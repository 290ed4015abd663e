"""Exactly-once streaming sinks into transactional tables (§2.8 + §4.3-1).

``foreachBatch`` gives at-least-once delivery: after a crash, Spark can
re-run the LAST micro-batch with the SAME ``batch_id`` (the public
Structured Streaming contract).  A plain append sink would then write
those rows twice.  The standard recipe — record the batch_id with the
committed data, skip batches at or below the last recorded id — needs a
sink whose data+id commit is ATOMIC, which is exactly what
``storage/txn_table``'s manifest commit provides: the batch's parquet
files and its ``batch_id`` land in one O_EXCL manifest create, so there
is no crash window where data is visible without its id (or vice
versa).  This restates the reference's daily "append new + merge
changed" (/root/reference/main.py:176-185, :274-284), which leaned on
BigQuery's transactionality, as streaming exactly-once on files.

Scale: the skip check reads manifests newest→oldest and stops at the
first batch-tagged commit — O(interleaved non-batch commits), not
O(history).  Batch ids are monotonically increasing per query, so one
integer comparison suffices.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from play_bq_gcp_spark.storage import txn_table as tt

BATCH_KEY = "streaming_batch_id"


def last_committed_batch_id(path: str) -> int:
    """Newest commit carrying a batch id, or -1.  Tolerates vacuumed
    history (missing older manifests) — if every surviving manifest is
    untagged, the sink conservatively treats the table as fresh."""
    for v in sorted(tt.versions(path), reverse=True):
        meta = tt.snapshot(path, v).meta
        if BATCH_KEY in meta:
            return int(meta[BATCH_KEY])
    return -1


def exactly_once_append(path: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: transactional append, replay-safe.

    A replayed batch (same id re-delivered after failure) is skipped
    because its id is ≤ the last id committed WITH the data it wrote —
    at-least-once delivery × idempotent commit = exactly-once table
    contents."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_committed_batch_id(path):
            return  # replay of an already-committed batch
        tt.append(batch_df, path, meta={BATCH_KEY: int(batch_id)})

    return apply


def exactly_once_merge(
    path: str, key_cols: Sequence[str], update_cols: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: transactional MERGE (update matched keys,
    insert new ones) per micro-batch — the reference's daily upsert as
    a streaming sink.  Each batch is one ``txn_table.merge_into``
    commit tagged with the batch id, so only the base files whose key
    range the batch touches are rewritten.  foreachBatch invocations
    are serialized per query, so ``expected_version`` is a tripwire
    against out-of-band writers, not a retry loop."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_committed_batch_id(path):
            return
        base_version = tt.current_version(path)
        if not tt.snapshot(path, base_version).files:
            # first batch into an empty table: nothing to match against
            batch_df = batch_df.dropDuplicates(list(key_cols))
        tt.merge_into(
            batch_df.sparkSession, path, batch_df, list(key_cols),
            list(update_cols), insert=True, expected_version=base_version,
            meta={BATCH_KEY: int(batch_id)},
        )

    return apply

"""The exactly-once ``foreachBatch`` sink into transactional tables
(§2.8 + §4.3-1).

``foreachBatch`` gives at-least-once delivery: after a crash, Spark can
re-run the LAST micro-batch with the SAME ``batch_id`` (the public
Structured Streaming contract).  An additive sink would then count
those rows twice.  The standard recipe — record the batch_id with the
committed data, skip batches at or below the last recorded id — needs a
sink whose data+id commit is ATOMIC, which is exactly what
``storage/txn_table``'s manifest commit provides: the batch's parquet
files and its ``batch_id`` land in one O_EXCL manifest create, so there
is no crash window where data is visible without its id (or vice
versa).  This restates the reference's daily "append new + merge
changed" (/root/reference/main.py:176-185, :274-284), which leaned on
BigQuery's transactionality, as streaming exactly-once on files.  Every
streaming state table in the package (``streaming/daily``'s per-user
totals and Count-Min sketch) commits through ``exactly_once_merge``.

Scale: the skip check reads manifests newest→oldest and stops at the
first batch-tagged commit — O(interleaved non-batch commits), not
O(history).  Batch ids are monotonically increasing per query, so one
integer comparison suffices.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, functions as F

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


def exactly_once_merge(
    path: str, key_cols: Sequence[str], value_cols: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: add each micro-batch's ``value_cols``
    into the keyed state table at ``path`` (created if absent).

    Per batch: skip a replayed id, sum the batch by key, add those sums
    to the stored rows of the same keys, and commit the result as ONE
    ``txn_table.merge_into`` (update matched keys, insert new ones)
    tagged with the batch id — at-least-once delivery × idempotent
    commit = exactly-once totals.  Summing first leaves one source row
    per key, so the merge never sees duplicate keys, empty table or not.
    NULLs add like SQL ``SUM``: a key's total is NULL only while every
    value it has seen is NULL.  foreachBatch invocations are serialized
    per query, so ``expected_version`` is a tripwire against
    out-of-band writers, not a retry loop."""
    keys, values = list(key_cols), list(value_cols)
    try:
        tt.init_table(path)
    except FileExistsError:
        pass  # resuming into the table an earlier run created

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_committed_batch_id(path):
            return  # replay of an already-committed batch
        spark = batch_df.sparkSession
        base = tt.snapshot(path)
        source = batch_df.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in values]
        )
        if base.files:
            stored = tt.read(spark, path, base.version).select(
                *keys, *[F.col(c).alias(f"__old_{c}") for c in values]
            )
            source = source.join(stored, keys, "left").select(
                *keys,
                *[
                    F.coalesce(
                        F.col(c) + F.col(f"__old_{c}"),
                        F.col(c),
                        F.col(f"__old_{c}"),
                    ).alias(c)
                    for c in values
                ],
            )
        tt.merge_into(
            spark, path, source, keys, values, insert=True,
            expected_version=base.version, meta={BATCH_KEY: int(batch_id)},
        )

    return apply

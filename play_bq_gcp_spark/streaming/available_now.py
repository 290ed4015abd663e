"""Run a streaming query to completion with ``Trigger.AvailableNow``.

The reference's cadence is a daily cron job; the engine restates it as
Structured Streaming queries that process everything available, then
stop.  Every such query in the package goes through
``run_available_now`` — one place for the trigger, the checkpoint, the
conf the query needs (scoped, never leaked) and the memory-sink view
(resolved, then dropped).
"""

from __future__ import annotations

import tempfile
import uuid
from collections.abc import Callable
from contextlib import nullcontext

from pyspark.sql import DataFrame

from play_bq_gcp_spark.session import scoped_conf

# The state-store partition count is FIXED at first start for a
# streaming query's lifetime — size it to the key space (hundreds of
# users / hours×types here), not the session's batch shuffle setting;
# every extra partition is an empty state store committed per
# micro-batch.
STATE_PARTITIONS = 8
STATE_CONF = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def run_available_now(
    df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    conf: dict[str, str] | None = None,
    no_data_batches: bool = True,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Drive the streaming ``df`` to completion under ``conf``.

    ``sink`` is either a memory-sink output mode (``"append"``,
    ``"update"``, ``"complete"``) — the materialized result comes back
    as a batch DataFrame and the sink's temp view is dropped — or a
    ``foreachBatch`` function, which owns its output (returns None).
    ``checkpoint`` defaults to a temporary directory removed after the
    run; pass a durable one to make the run resumable or inspectable.

    ``no_data_batches=False`` skips AvailableNow's closing no-data
    micro-batch.  ONLY legal when the query's OUTPUT doesn't depend on
    the final watermark advance: complete-mode aggregation (the full
    result re-emits every data batch), stateless maps, or state with
    no timeouts/timers and no watermark.  Append-mode windows,
    outer-join null completion, and timeout/timer sessions all EMIT in
    that closing batch — they must keep the default.  Measured r5: the
    closing batch costs ~1.4 s on the dedup-counts entry — pure
    state-commit overhead for a result already final."""
    spark = df.sparkSession
    name = f"s_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName(name).outputMode(sink)
    settings = {
        **(conf or {}),
        _NO_DATA_BATCHES: "true" if no_data_batches else "false",
    }
    ckpt = (
        nullcontext(checkpoint) if checkpoint else tempfile.TemporaryDirectory()
    )
    with scoped_conf(spark, settings), ckpt as ckpt_dir:
        (
            writer.option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    if callable(sink):
        return None
    # the resolved plan holds the sink's rows; the view would otherwise
    # pin them in the session for its lifetime
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out

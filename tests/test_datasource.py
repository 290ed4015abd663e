from __future__ import annotations

import math

from play_bq_gcp_spark.sources.psn_datasource import (
    BURST,
    GameSnapshotDataSource,
    GameSnapshotStreamReader,
)


def _load(spark, pages=4, page_size=50):
    spark.dataSource.register(GameSnapshotDataSource)
    return (
        spark.read.format("game_snapshot")
        .option("pages", pages)
        .option("page_size", page_size)
        .load()
    )


def test_pages_grouped_by_bucket_burst(spark):
    """Contiguous page groups of at most the token bucket's burst, one
    per partition; every title arrives exactly once.  Every third page
    fails its first delivery with a 503, so retries run inside a
    grouped task (and, past the burst, wait for their token)."""
    assert BURST == 5
    page_size = 3
    for pages in (1, 4, 5, 6, 8, 11):
        df = _load(spark, pages=pages, page_size=page_size)
        assert df.rdd.getNumPartitions() == math.ceil(pages / 5)
        ids = [r.title_id for r in df.select("title_id").collect()]
        n = pages * page_size
        assert sorted(ids) == [f"CUSA{i:05d}_00" for i in range(n)]


def test_stream_micro_batch_pages_grouped_by_burst():
    parts = GameSnapshotStreamReader({}).partitions({"page": 0}, {"page": 7})
    assert len(parts) == 2
    assert sorted(p for part in parts for p in part.pages) == list(range(7))


def test_deterministic_across_reads(spark):
    a = sorted(map(tuple, _load(spark).collect()))
    b = sorted(map(tuple, _load(spark).collect()))
    assert a == b


def test_feeds_pipeline_transform(spark):
    """The data-source output slots straight into the daily pipeline's
    snapshot transform (projection + surrogate key + casts)."""
    from play_bq_gcp_spark.plans.pipeline import GAME_COLUMNS, transform_snapshot

    game = transform_snapshot(_load(spark, pages=2, page_size=25))
    assert game.columns == GAME_COLUMNS
    rows = game.collect()
    assert len(rows) == 50
    # surrogate key: last-7 of stripped title_id ++ ddHHyyyyMM stamp
    assert all(len(r.id) == 17 for r in rows)


def test_datasource_write_two_phase_commit(spark, tmp_path):
    """The write path: tasks stage JSONL files, driver commit renames
    them and publishes a manifest; round-trip row counts match and no
    staged files survive."""
    import json
    import os

    spark.dataSource.register(GameSnapshotDataSource)
    df = (
        spark.read.format("game_snapshot")
        .option("pages", 3)
        .option("page_size", 10)
        .load()
    )
    out = str(tmp_path / "sink")
    df.write.format("game_snapshot").mode("append").option("path", out).save()
    files = os.listdir(out)
    assert "_MANIFEST.json" in files
    assert not [f for f in files if f.startswith("_staged_")]
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert sum(e["rows"] for e in manifest) == 30
    assert all(e["file"].startswith("part_") for e in manifest)
    back = spark.read.json(os.path.join(out, "part_*.jsonl"))
    assert back.count() == 30
    assert set(df.columns) == set(back.columns)


def test_stream_reader_progresses_cursor_across_micro_batches(spark):
    """Four pages arrive over FOUR genuine micro-batches (one page per
    poll), each batch exactly page_size rows — the offset log is a real
    cursor, not a single drain."""
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
        .option("page_size", 25)
        .load()
    )
    name = f"s_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 100:
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
    assert spark.table(name).count() == 100
    assert len(data_batches) == 4
    assert all(p["numInputRows"] == 25 for p in data_batches)
    # distinct titles: no page delivered twice despite per-poll offsets
    assert spark.table(name).select("title_id").distinct().count() == 100

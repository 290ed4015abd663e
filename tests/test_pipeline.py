"""End-to-end golden test of the restated daily pipeline (SURVEY.md §5.2-2).

Two snapshot days D1 < D2: D2 has (a) a brand-new title, (b) titles with
increased play_count, (c) unchanged titles; assertions follow the
reference's observable behavior table-by-table.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from play_bq_gcp_spark.plans import pipeline
from play_bq_gcp_spark.sources.rest_api import GAME_SNAPSHOT_SCHEMA

D1 = [
    # title_id, name, image, category, first_played, last_played, count, dur
    ("CUSA_0000001_00", "Alpha", "http://img/a", "ps4_game",
     dt.datetime(2020, 1, 5, 13), dt.datetime(2024, 1, 1), 10, 3600.0),
    ("CUSA_0000002_00", "Béta", "http://img/b", "ps5_native_game",
     dt.datetime(2021, 6, 7, 9), dt.datetime(2024, 1, 1), 5, 1800.0),
    ("CUSA_0000003_00", "Gamma", "http://img/c", "ps4_game",
     dt.datetime(2019, 12, 31, 23), dt.datetime(2024, 1, 1), 7, 2500.0),
]

D2 = [
    # Alpha: +2 plays (upsert + delta)
    ("CUSA_0000001_00", "Alpha", "http://img/a", "ps4_game",
     dt.datetime(2020, 1, 5, 13), dt.datetime(2024, 1, 2), 12, 4000.0),
    # Beta: unchanged (no delta, no update)
    ("CUSA_0000002_00", "Béta", "http://img/b", "ps5_native_game",
     dt.datetime(2021, 6, 7, 9), dt.datetime(2024, 1, 1), 5, 1800.0),
    # Gamma: unchanged
    ("CUSA_0000003_00", "Gamma", "http://img/c", "ps4_game",
     dt.datetime(2019, 12, 31, 23), dt.datetime(2024, 1, 1), 7, 2500.0),
    # Delta: brand-new title (anti-join append path)
    ("CUSA_0000004_00", "Delta", "http://img/d", "ps5_native_game",
     dt.datetime(2024, 1, 2, 8), dt.datetime(2024, 1, 2), 1, 600.0),
]


@pytest.fixture()
def wh(tmp_path, spark):
    wh = pipeline.TxnWarehouse(str(tmp_path / "warehouse"))
    d1 = spark.createDataFrame(D1, GAME_SNAPSHOT_SCHEMA)
    pipeline.bootstrap(wh, d1)
    return wh


def _snapshot(spark, rows):
    return spark.createDataFrame(rows, GAME_SNAPSHOT_SCHEMA)


def test_bootstrap_shapes(spark, wh):
    game = wh.read(spark, "game")
    assert game.count() == 3
    assert game.columns == pipeline.GAME_COLUMNS
    row = game.filter("title_id = 'CUSA000000100'").first()
    # surrogate key: last-7 of stripped id + ddHHyyyyMM (reference main.py:102)
    assert row.id == "0000100" + "0513202001"
    assert row.category == "ame"  # last 3 chars of ps4_game


def test_day2_run_golden(spark, wh):
    stats = pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    assert stats["new_games"] == 1 and stats["time_play"] == 1
    # the observe() metrics riding the run's own actions must agree
    # with the guard counts — the report costs no extra count jobs
    assert stats["new_games_observed"] == stats["new_games"]
    assert stats["time_play_observed"] == stats["time_play"]

    game = wh.read(spark, "game")
    assert game.count() == 4
    alpha = game.filter("title_name = 'Alpha'").first()
    assert alpha.play_count == 12 and alpha.play_duration == 4000.0
    assert alpha.last_played_date_time == dt.datetime(2024, 1, 2)
    beta = game.filter("title_name = 'Béta'").first()
    assert beta.play_count == 5  # untouched

    tp = wh.read(spark, "time_play").collect()
    assert len(tp) == 1
    assert tp[0].play_count_diff == 2
    assert tp[0].play_duration_diff == 400.0
    assert tp[0].date == dt.datetime(2024, 1, 2)


def test_rerun_is_idempotent(spark, wh):
    pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    stats2 = pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    # identical snapshot → nothing new, nothing active (main.py:176 + :201)
    assert stats2 == {"new_games": 0, "time_play": 0}
    assert wh.read(spark, "game").count() == 4
    assert wh.read(spark, "time_play").count() == 1


def test_empty_snapshot_guard(spark, wh):
    empty = spark.createDataFrame([], GAME_SNAPSHOT_SCHEMA)
    stats = pipeline.run_daily(wh, spark, empty, "2024-01-03")
    assert stats == {"new_games": 0, "time_play": 0}
    assert wh.read(spark, "game").count() == 3
    assert not wh.exists("time_play")


def test_trophy_append(spark, wh):
    from play_bq_gcp_spark.sources.rest_api import trophy_document

    t = trophy_document(spark, {"bronze": 100, "silver": 50, "gold": 10, "platinum": 2})
    pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02", trophy_row=t)
    row = wh.read(spark, "trophee").first()
    assert (row.bronze, row.silver, row.gold, row.platinum) == (100, 50, 10, 2)
    assert row.date == dt.datetime(2024, 1, 2)


def test_run_daily_on_txn_warehouse_matches_parquet_and_time_travels(
    spark, wh
):
    """What BigQuery gave the reference for free, beyond the golden
    results above: every write is a versioned atomic commit, so
    yesterday's dimension is still readable after today's run.  The
    dimension update runs as a true transactional MERGE INTO, and the
    change feed between the pre- and post-merge versions must replay
    to exactly the post-merge state."""
    from play_bq_gcp_spark.storage import txn_table as tt

    pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")

    # time travel: the pre-run dimension (bootstrap commit) is intact
    game_path = wh.path("game")
    pre = tt.read(spark, game_path, version=1)
    assert pre.count() == 3
    assert [s.action for s in tt.history(game_path)] == [
        "create", "overwrite", "merge",
    ]

    # CDF across the daily merge: applying the feed to the pre-merge
    # version reproduces the post-merge table exactly (multiset), and
    # the inserted side contains the brand-new game + updated rows
    feed = tt.changes(spark, game_path, 1, 2).collect()
    ins = {r.title_id for r in feed if r._change_type == "insert"}
    assert "CUSA000000400" in ins  # the day's brand-new game
    assert "CUSA000000100" in ins  # rewritten (play_count 10 -> 12)
    key = lambda r: (r.title_id, r.play_count)  # noqa: E731
    pre_keys = sorted(key(r) for r in pre.collect())
    post_keys = sorted(key(r) for r in wh.read(spark, "game").collect())
    replayed = sorted(
        [key(r) for r in pre.collect()
         if (r.title_id, "delete") not in {(x.title_id, x._change_type) for x in feed}]
        + [key(r) for r in feed if r._change_type == "insert"]
    )
    assert replayed == post_keys and pre_keys != post_keys


def test_run_daily_releases_caches_when_a_write_raises(spark, tmp_path):
    """A failed dimension commit must not leave run_daily's cached
    relations (snapshot, stored, fresh, deltas) pinned in the session:
    the conflict propagates and the cache manager is empty after."""
    from play_bq_gcp_spark.storage.txn_table import CommitConflict

    class ConflictingWarehouse(pipeline.TxnWarehouse):
        def merge_dim(self, *args):
            raise CommitConflict("another writer published first")

    wh = ConflictingWarehouse(str(tmp_path / "txn_wh"))
    pipeline.bootstrap(wh, _snapshot(spark, D1))
    spark.catalog.clearCache()
    with pytest.raises(CommitConflict):
        pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_bootstrap_then_incremental_daily(spark, tmp_path, capsys):
    """python -m play_bq_gcp_spark: first invocation bootstraps, the
    next loads incrementally — growing the API page count between runs
    surfaces the anti-join append path."""
    import json

    from play_bq_gcp_spark.__main__ import main

    wh_dir = str(tmp_path / "cli_wh")
    assert main(["--warehouse", wh_dir, "--pages", "2"]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["run"] == "bootstrap"

    assert (
        main(
            ["--warehouse", wh_dir, "--pages", "3", "--date", "2024-06-02"]
        )
        == 0
    )
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["run"] == "daily" and out2["new_games"] == 100

    from play_bq_gcp_spark.plans.pipeline import TxnWarehouse

    assert TxnWarehouse(wh_dir).read(spark, "game").count() == 300


def _title(n, count, last_day=1):
    return (f"CUSA_000000{n}_00", f"T{n}", f"http://img/{n}", "ps4_game",
            dt.datetime(2020, 1, n, 12), dt.datetime(2024, 1, last_day),
            count, 60.0 * count)


def test_txn_warehouse_daily_merge_carries_untouched_files(spark, tmp_path):
    """A sparse day on TxnWarehouse: the dimension MERGE carries every
    base file whose recorded ``id`` range lies outside the day's keys
    into the new version by reference, byte-identical, and rewrites
    the file holding the changed title.

    Limit: ``merge_into`` prunes with ONE [min, max] over the source
    keys, so it carries files only when the day's keys are
    range-local, as here (titles 6-7 of 1-7).  Scattered keys span
    every file and rewrite them all; file-exact pruning on scattered
    keys is still open (ROADMAP direction 1)."""
    import hashlib

    from play_bq_gcp_spark.storage import txn_table as tt

    def raw(rows):  # one partition, so one data file, per title
        rdd = spark.sparkContext.parallelize(rows, len(rows))
        return spark.createDataFrame(rdd, GAME_SNAPSHOT_SCHEMA)

    wh = pipeline.TxnWarehouse(str(tmp_path / "txn_wh"))
    base_titles = [_title(n, 1) for n in (1, 2, 3)]
    pipeline.bootstrap(wh, raw(base_titles))
    wh.append(
        pipeline.transform_snapshot(raw([_title(5, 1), _title(6, 1)])), "game"
    )
    root = wh.path("game")
    base = tt.snapshot(root)

    def sha(f):
        with open(os.path.join(root, f), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    before = {f: sha(f) for f in base.files}
    day = base_titles + [_title(5, 1), _title(6, 3, 2), _title(7, 1, 2)]
    stats = pipeline.run_daily(wh, spark, raw(day), "2024-01-02")
    assert stats["new_games"] == 1 and stats["time_play"] == 1

    ids = {
        r.title_id: r.id
        for r in pipeline.transform_snapshot(raw(day)).collect()
    }
    lo, hi = ids["CUSA000000600"], ids["CUSA000000700"]
    outside = [
        f for f in base.files
        if base.file_stats[f]["cols"]["id"][1] < lo
        or base.file_stats[f]["cols"]["id"][0] > hi
    ]
    after = tt.snapshot(root)
    assert len(outside) >= 4 and set(outside) <= set(after.files)
    for f in outside:
        assert sha(f) == before[f], f"carried file {f} changed"
    holds_6 = [
        f for f in base.files
        if "CUSA000000600" in pq.read_table(
            os.path.join(root, f), columns=["title_id"]
        ).column("title_id").to_pylist()
    ]
    assert len(holds_6) == 1 and holds_6[0] not in after.files

    game = {r.title_id: r.play_count for r in wh.read(spark, "game").collect()}
    assert game == {
        "CUSA000000100": 1, "CUSA000000200": 1, "CUSA000000300": 1,
        "CUSA000000500": 1, "CUSA000000600": 3, "CUSA000000700": 1,
    }

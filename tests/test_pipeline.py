"""End-to-end golden test of the restated daily pipeline (SURVEY.md §5.2-2).

Two snapshot days D1 < D2: D2 has (a) a brand-new title, (b) titles with
increased play_count, (c) unchanged titles; assertions follow the
reference's observable behavior table-by-table.
"""

from __future__ import annotations

import datetime as dt

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
    wh = pipeline.Warehouse(str(tmp_path / "warehouse"))
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
    spark, tmp_path
):
    """The SAME pipeline logic on TxnWarehouse: identical observable
    results, plus what BigQuery gave the reference for free — every
    write is a versioned atomic commit, so yesterday's dimension is
    still readable after today's run.  The dimension update runs as a
    true transactional MERGE INTO (r4 ask: the storage layer's
    MERGE/CDF path proven under the reference's daily workload, not
    just unit fuzz), and the change feed between the pre- and
    post-merge versions must replay to exactly the post-merge state."""
    from play_bq_gcp_spark.storage import txn_table as tt

    wh = pipeline.TxnWarehouse(str(tmp_path / "txn_wh"))
    pipeline.bootstrap(wh, _snapshot(spark, D1))
    stats = pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    assert stats["new_games"] == 1 and stats["time_play"] == 1

    game = {r.title_id: r for r in wh.read(spark, "game").collect()}
    assert set(game) == {"CUSA000000100", "CUSA000000200",
                         "CUSA000000300", "CUSA000000400"}
    assert game["CUSA000000100"].play_count == 12
    tp = wh.read(spark, "time_play").collect()
    assert len(tp) == 1 and tp[0].play_count_diff == 2

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

    # idempotent rerun: same day again → no new versions of the facts
    v_before = tt.current_version(wh.path("time_play"))
    stats2 = pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    assert stats2["new_games"] == 0 and stats2["time_play"] == 0
    assert tt.current_version(wh.path("time_play")) == v_before


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
    assert main(["--warehouse", wh_dir, "--txn", "--pages", "2"]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["run"] == "bootstrap"

    assert (
        main(
            ["--warehouse", wh_dir, "--txn", "--pages", "3",
             "--date", "2024-06-02"]
        )
        == 0
    )
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["run"] == "daily" and out2["new_games"] == 100

    from play_bq_gcp_spark.plans.pipeline import TxnWarehouse

    assert TxnWarehouse(wh_dir).read(spark, "game").count() == 300


def test_partitioned_warehouse_merge_rewrites_only_touched_buckets(
    spark, tmp_path
):
    """Dynamic-partition-overwrite merge path (VERDICT r8 #3): a daily
    upsert touching k hash buckets rewrites exactly those bucket
    directories; every untouched bucket's files stay byte-identical,
    and the merged table matches the plain-Warehouse golden result."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    wh = pipeline.PartitionedWarehouse(str(tmp_path / "pw"), n_buckets=16)
    pipeline.bootstrap(wh, _snapshot(spark, D1))
    root = wh.path("game")

    def tree_hashes():
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                rel = os.path.relpath(p, root)
                with open(p, "rb") as fh:
                    out[rel] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = tree_hashes()

    stats = pipeline.run_daily(wh, spark, _snapshot(spark, D2), "2024-01-02")
    assert stats["new_games"] == 1 and stats["time_play"] == 1

    # golden content: identical to the plain-Warehouse run
    game = wh.read(spark, "game")
    assert game.count() == 4
    alpha = game.filter("title_name = 'Alpha'").first()
    assert alpha.play_count == 12 and alpha.play_duration == 4000.0
    beta = game.filter("title_name = 'Béta'").first()
    assert beta.play_count == 5

    # the buckets the changed (Alpha) + fresh (Delta) ids hash into
    touched = {
        r[0]
        for r in game.filter(
            F.col("title_name").isin("Alpha", "Delta")
        )
        .select(F.pmod(F.hash("id"), F.lit(16)))
        .collect()
    }
    after = tree_hashes()
    untouched_files = [
        rel
        for rel in before
        if not any(f"__bucket={b}" + os.sep in rel or
                   rel.startswith(f"__bucket={b}{os.sep}")
                   for b in touched)
        and rel.endswith(".parquet")
    ]
    assert untouched_files, "test needs at least one untouched bucket"
    for rel in untouched_files:
        assert after.get(rel) == before[rel], f"untouched {rel} rewritten"
    # and the touched buckets really did change
    changed = [
        rel for rel in before
        if rel not in after or after[rel] != before[rel]
    ]
    assert any(
        f"__bucket={b}" in rel for b in touched for rel in changed
    )

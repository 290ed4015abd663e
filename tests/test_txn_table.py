"""Transactional table (storage/txn_table.py): commit atomicity,
snapshot isolation, conflict semantics, time travel, vacuum."""

from __future__ import annotations

import os

import pytest

from play_bq_gcp_spark.storage import txn_table as tt


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


@pytest.fixture()
def table(tmp_path):
    path = str(tmp_path / "t")
    tt.init_table(path)
    return path


def test_append_read_roundtrip_and_versions(spark, table):
    s1 = tt.append(_df(spark, 0, 10), table)
    s2 = tt.append(_df(spark, 10, 15), table)
    assert (s1.version, s2.version) == (1, 2)
    assert s2.rows == 15
    assert tt.read(spark, table).count() == 15
    # snapshot isolation: version 1 still reads its original 10 rows
    assert tt.read(spark, table, version=1).count() == 10


def test_overwrite_replaces_but_keeps_history(spark, table):
    tt.append(_df(spark, 0, 10), table)
    tt.overwrite(_df(spark, 100, 103), table)
    assert sorted(r.id for r in tt.read(spark, table).collect()) == [100, 101, 102]
    assert tt.read(spark, table, version=1).count() == 10
    assert [s.action for s in tt.history(table)] == [
        "create",
        "append",
        "overwrite",
    ]


def test_append_retries_through_lost_race(spark, table, monkeypatch):
    """A racing writer publishes the version our append targets; the
    append must rebase onto the new latest and still commit both row
    sets."""
    tt.append(_df(spark, 0, 5), table)
    real_publish = tt._publish
    raced = {"done": False}

    def racing_publish(path, version, snap):
        if not raced["done"]:
            raced["done"] = True
            competitor = tt.Snapshot(
                version, tt.snapshot(path).files, tt.snapshot(path).rows,
                "append", snap.committed_at,
            )
            real_publish(path, version, competitor)  # competitor wins v2
        return real_publish(path, version, snap)

    monkeypatch.setattr(tt, "_publish", racing_publish)
    s = tt.append(_df(spark, 5, 8), table)
    assert s.version == 3  # rebased past the competitor's v2
    assert tt.read(spark, table).count() == 8


def test_overwrite_conflict_raises_not_retries(spark, table):
    tt.append(_df(spark, 0, 5), table)
    base = tt.current_version(table)
    tt.append(_df(spark, 5, 6), table)  # someone commits after our read
    with pytest.raises(tt.CommitConflict):
        tt.overwrite(_df(spark, 0, 1), table, expected_version=base)
    # the table is untouched by the failed overwrite
    assert tt.read(spark, table).count() == 6


def test_uncommitted_data_files_invisible(spark, table):
    tt.append(_df(spark, 0, 5), table)
    # a crashed writer's orphan data files (no manifest references them)
    tt._write_data_files(_df(spark, 900, 950), table)
    assert tt.read(spark, table).count() == 5


def test_vacuum_drops_unreferenced_keeps_latest(spark, table):
    tt.append(_df(spark, 0, 10), table)
    tt.overwrite(_df(spark, 0, 3), table)
    removed = tt.vacuum(table, keep_versions=1)
    assert removed  # v1's files went away
    assert tt.read(spark, table).count() == 3
    with pytest.raises(FileNotFoundError):
        tt.snapshot(table, 1)
    # no orphan parquet left outside the live manifest
    live = set(tt.snapshot(table).files)
    on_disk = {
        os.path.join("data", c, f)
        for c in os.listdir(os.path.join(table, "data"))
        for f in os.listdir(os.path.join(table, "data", c))
        if f.endswith(".parquet")
    }
    assert on_disk == live


def test_init_twice_fails(table):
    with pytest.raises(FileExistsError):
        tt.init_table(table)


def test_manifest_stats_recorded_and_rows_from_footers(spark, table):
    s = tt.append(_df(spark, 0, 100), table)
    assert s.rows == 100
    assert s.file_stats  # every committed file carries footer stats
    all_cols = [st["cols"] for st in s.file_stats.values()]
    assert all("id" in c and "v" in c for c in all_cols)
    lo = min(c["id"][0] for c in all_cols)
    hi = max(c["id"][1] for c in all_cols)
    assert (lo, hi) == (0, 99)


def test_read_pruned_skips_files_and_matches_plain_filter(spark, table):
    # three disjoint commits → disjoint id ranges per file set
    tt.append(_df(spark, 0, 100).coalesce(1), table)
    tt.append(_df(spark, 100, 200).coalesce(1), table)
    tt.append(_df(spark, 200, 300).coalesce(1), table)

    pruned = tt.read_pruned(spark, table, "id", lo=120, hi=180)
    # file skipping proven by the scan's input: only the middle file
    scanned = {
        f for f in pruned.inputFiles()
    }
    assert len(scanned) == 1

    expect = sorted(
        r.id
        for r in tt.read(spark, table)
        .filter("id >= 120 AND id <= 180")
        .collect()
    )
    assert sorted(r.id for r in pruned.collect()) == expect

    # fully-out-of-range predicate: zero files, correct (empty) result
    none = tt.read_pruned(spark, table, "id", lo=10_000)
    assert none.count() == 0


def test_read_pruned_keeps_files_without_stats(spark, table, monkeypatch):
    """A file lacking stats for the predicate column must be scanned,
    never skipped — missing metadata degrades to a full read, not to
    silent row loss."""
    tt.append(_df(spark, 0, 50), table)
    real = tt.snapshot

    def stripped(path, version=None):
        s = real(path, version)
        return tt.Snapshot(
            s.version, s.files, s.rows, s.action, s.committed_at, s.meta, {}
        )

    monkeypatch.setattr(tt, "snapshot", stripped)
    df = tt.read_pruned(spark, table, "id", lo=0, hi=9)
    assert sorted(r.id for r in df.collect()) == list(range(10))


def test_clustered_write_makes_stats_selective(spark, table):
    """Range-clustered commits give near-disjoint per-file ranges, so a
    narrow predicate scans ~1 file; the same data committed shuffled
    spans the domain in every file and prunes nothing."""
    import pyspark.sql.functions as F

    df = (
        spark.range(0, 2000)
        .withColumn("k", F.xxhash64("id") % 1000)  # shuffled key order
        .repartition(8)
    )
    tt.overwrite(df, table, cluster_by=["k"], target_files=8)
    pruned = tt.read_pruned(spark, table, "k", lo=0, hi=10)
    assert len(pruned.inputFiles()) < len(tt.snapshot(table).files)
    expect = df.filter("k >= 0 AND k <= 10").count()
    assert pruned.count() == expect


def test_delete_where_rewrites_only_overlapping_files(spark, table):
    tt.append(_df(spark, 0, 100).coalesce(1), table)
    tt.append(_df(spark, 100, 200).coalesce(1), table)
    tt.append(_df(spark, 200, 300).coalesce(1), table)
    before = tt.snapshot(table)

    s = tt.delete_where(
        spark, table, "id >= 150 AND id < 160", prune_col="id", lo=150, hi=159
    )
    assert s.action == "delete" and s.rows == 290
    # the two non-overlapping files survive by reference (same paths)
    survivors = set(before.files) & set(s.files)
    assert len(survivors) == 2
    got = sorted(r.id for r in tt.read(spark, table).collect())
    assert got == [i for i in range(300) if not (150 <= i < 160)]
    # time travel still sees the deleted rows
    assert tt.read(spark, table, version=before.version).count() == 300


def test_delete_without_prune_hint_still_correct(spark, table):
    tt.append(_df(spark, 0, 50), table)
    s = tt.delete_where(spark, table, "v % 4 = 0")  # v = 2*id → id even
    assert sorted(r.id for r in tt.read(spark, table).collect()) == list(
        range(1, 50, 2)
    )
    assert s.rows == 25


def test_compact_merges_files_data_unchanged(spark, table):
    for lo in range(0, 300, 100):
        tt.append(_df(spark, lo, lo + 100).coalesce(1), table)
    before_files = len(tt.snapshot(table).files)
    assert before_files == 3
    s = tt.compact(spark, table, target_files=1)
    assert s.action == "compact" and len(s.files) == 1
    assert sorted(r.id for r in tt.read(spark, table).collect()) == list(
        range(300)
    )
    # compaction does not destroy history
    assert tt.read(spark, table, version=s.version - 1).count() == 300


def test_schema_evolution_merge_on_read(spark, table):
    """An appended commit may add columns when the caller opts in with
    evolve=True; reads then go through the DECLARED schema with NULL
    backfill for pre-evolution files, while time travel to an old
    version returns the columns as declared THEN."""
    tt.append(_df(spark, 0, 5), table)
    evolved = spark.range(5, 8).selectExpr(
        "id", "id * 2 AS v", "'en' AS lang"
    )
    # evolution is explicit: without the flag the append must refuse
    with pytest.raises(tt.SchemaEvolutionError):
        tt.append(evolved, table)
    tt.append(evolved, table, evolve=True)

    df = tt.read(spark, table)
    assert set(df.columns) == {"id", "v", "lang"}
    by_id = {r.id: r.lang for r in df.collect()}
    assert by_id[0] is None and by_id[5] == "en"
    assert len(by_id) == 8
    # time travel to the pre-evolution version sees the old declaration
    assert tt.read(spark, table, version=1).columns == ["id", "v"]


def test_z_order_prunes_on_every_clustered_column(spark, table, tmp_path):
    """Z-ordered commits give hyper-rectangular per-file ranges: a
    narrow predicate on EITHER clustered column skips files, where
    linear clustering only serves its leading key."""
    import pyspark.sql.functions as F

    df = spark.range(0, 4096).select(
        "id",
        (F.xxhash64("id") % 1000).alias("a"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("b"),
    )
    tt.overwrite(tt.z_order(df, ["a", "b"], target_files=16), table)
    n_files = len(tt.snapshot(table).files)
    assert n_files == 16

    for col in ("a", "b"):
        pruned = tt.read_pruned(spark, table, col, lo=-999, hi=-800)
        assert len(pruned.inputFiles()) < n_files, f"no pruning on {col}"
        expect = df.filter(f"{col} BETWEEN -999 AND -800").count()
        assert pruned.count() == expect

    # contrast: linear clustering on a cannot prune on b
    linear = str(tmp_path / "linear")
    tt.init_table(linear)
    tt.overwrite(df, linear, cluster_by=["a"], target_files=16)
    assert (
        len(tt.read_pruned(spark, linear, "b", lo=-999, hi=-800).inputFiles())
        == 16
    )


def test_merge_into_updates_inserts_and_time_travels(spark, table):
    tt.append(_df(spark, 0, 10).coalesce(1), table)
    src = spark.createDataFrame(
        [(3, 999), (7, 777), (20, 40)], "id long, v long"
    )
    out = tt.merge_into(spark, table, src, "id", ["v"])
    assert out.action == "merge" and out.rows == 11
    got = {r.id: r.v for r in tt.read(spark, table).collect()}
    assert got[3] == 999 and got[7] == 777      # updated
    assert got[20] == 40 and len(got) == 11     # inserted
    assert got[5] == 10                         # untouched
    # time travel: pre-merge version unchanged
    assert {r.id: r.v for r in tt.read(spark, table, version=1).collect()}[3] == 6


def test_merge_into_prunes_untouched_files(spark, table):
    # three disjoint single-file commits -> disjoint id ranges per file
    tt.append(_df(spark, 0, 100).coalesce(1), table)
    tt.append(_df(spark, 100, 200).coalesce(1), table)
    tt.append(_df(spark, 200, 300).coalesce(1), table)
    before = set(tt.snapshot(table).files)
    src = spark.createDataFrame([(150, -1), (160, -2)], "id long, v long")
    out = tt.merge_into(spark, table, src, "id", ["v"])
    # the two non-overlapping files are carried by reference, unrewritten
    assert len(set(out.files) & before) == 2
    got = {r.id: r.v for r in tt.read(spark, table).collect()}
    assert got[150] == -1 and got[160] == -2 and got[0] == 0
    assert len(got) == 300
    # pruned insert leg stays exact: a key outside every file range
    src2 = spark.createDataFrame([(1000, 1)], "id long, v long")
    out2 = tt.merge_into(spark, table, src2, "id", ["v"])
    assert out2.rows == 301
    assert {r.v for r in tt.read(spark, table).collect() if r.id == 1000} == {1}


def test_merge_into_update_only_ignores_unmatched(spark, table):
    tt.append(_df(spark, 0, 5).coalesce(1), table)
    src = spark.createDataFrame([(2, 22), (50, 1)], "id long, v long")
    out = tt.merge_into(spark, table, src, "id", ["v"], insert=False)
    assert out.rows == 5
    got = {r.id: r.v for r in tt.read(spark, table).collect()}
    assert got[2] == 22 and 50 not in got


def test_merge_into_conflicts_like_overwrite(spark, table):
    tt.append(_df(spark, 0, 5), table)
    v = tt.current_version(table)
    tt.append(_df(spark, 5, 6), table)  # racing commit
    src = spark.createDataFrame([(0, 1)], "id long, v long")
    with pytest.raises(tt.CommitConflict):
        tt.merge_into(spark, table, src, "id", ["v"], expected_version=v)


def test_changes_append_only_reads_only_added_files(spark, table):
    tt.append(_df(spark, 0, 10).coalesce(1), table)
    tt.append(_df(spark, 10, 15).coalesce(1), table)
    cdf = tt.changes(spark, table, 1, 2)
    rows = cdf.collect()
    assert {r._change_type for r in rows} == {"insert"}
    assert sorted(r.id for r in rows) == list(range(10, 15))
    # O(changed data): the scan touched only the added file
    v1_files = {os.path.basename(f) for f in tt.snapshot(table, 1).files}
    assert all(
        os.path.basename(f) not in v1_files for f in cdf.inputFiles()
    )


def test_changes_replay_reproduces_target_version(spark, table):
    """v_from minus deletes plus inserts == v_to, as a multiset — for
    append, row-level delete (rewrite), and merge commits."""
    import collections

    tt.append(_df(spark, 0, 100).coalesce(2), table)
    tt.delete_where(spark, table, "id % 10 = 0")
    src = spark.createDataFrame([(5, -5), (200, 1)], "id long, v long")
    tt.merge_into(spark, table, src, "id", ["v"])
    top = tt.current_version(table)
    for v_from in range(1, top):
        feed = tt.changes(spark, table, v_from, top).collect()
        base = collections.Counter(
            (r.id, r.v) for r in tt.read(spark, table, version=v_from).collect()
        )
        for r in feed:
            if r._change_type == "delete":
                base[(r.id, r.v)] -= 1
            else:
                base[(r.id, r.v)] += 1
        target = collections.Counter(
            (r.id, r.v) for r in tt.read(spark, table, version=top).collect()
        )
        assert +base == target, f"replay from v{v_from} diverged"


# --- dynamic partition overwrite (replace-where) -------------------------


def _pdf(spark, rows):
    """(day, id, v) rows for partition-overwrite tests."""
    return spark.createDataFrame(rows, "day int, id long, v long")


def _file_bytes(table, snap):
    """{relpath: raw bytes} for every file in a snapshot."""
    out = {}
    for f in snap.files:
        with open(os.path.join(table, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_overwrite_partitions_rewrites_only_touched_days(spark, table):
    base = tt.overwrite_partitions(
        spark,
        _pdf(spark, [(d, 10 * d + i, 0) for d in (1, 2, 3) for i in range(4)]),
        table,
        "day",
    )
    before = _file_bytes(table, base)
    day1_files = {
        f for f in base.files
        if base.file_stats[f]["cols"]["day"] == [1, 1]
    }
    assert day1_files and len(day1_files) < len(base.files)

    upd = tt.overwrite_partitions(
        spark, _pdf(spark, [(1, 99, 7), (1, 98, 7)]), table, "day"
    )
    # untouched partitions: same files BY REFERENCE, bytes identical
    kept = set(base.files) - day1_files
    assert kept <= set(upd.files)
    after = _file_bytes(table, upd)
    for f in kept:
        assert after[f] == before[f], f"untouched file {f} changed"
    # replaced partition: old files gone from the manifest, new content in
    assert not (day1_files & set(upd.files))
    got = {
        (r.day, r.id, r.v) for r in tt.read(spark, table).collect()
    }
    assert {(1, 99, 7), (1, 98, 7)} <= got
    assert all(day != 1 or id_ in (98, 99) for day, id_, _ in got)
    assert {d for d, _, _ in got} == {1, 2, 3}
    # history: the pre-replace version still reads day-1's old rows
    assert (
        tt.read(spark, table, version=base.version)
        .filter("day = 1").count() == 4
    )


def test_overwrite_partitions_rewrites_straddling_legacy_files(spark, table):
    # legacy layout: ONE file spanning days 1-3 (plain append, no alignment)
    tt.append(
        _pdf(spark, [(d, 10 * d + i, 0) for d in (1, 2, 3) for i in range(3)])
        .coalesce(1),
        table,
    )
    snap = tt.overwrite_partitions(
        spark, _pdf(spark, [(2, 77, 5)]), table, "day"
    )
    got = sorted(
        (r.day, r.id, r.v) for r in tt.read(spark, table).collect()
    )
    # day 2 fully replaced; days 1 and 3 preserved from the straddler
    assert [(d, i) for d, i, _ in got if d == 2] == [(2, 77)]
    assert len([1 for d, _, _ in got if d == 1]) == 3
    assert len([1 for d, _, _ in got if d == 3]) == 3
    # and the rewritten live rows are now partition-aligned: every file
    # single-valued on day, so future replaces drop files, never rewrite
    for f in snap.files:
        lo, hi = snap.file_stats[f]["cols"]["day"]
        assert lo == hi


def test_commit_overwrite_partitions_refuses_straddlers(spark, table):
    tt.append(
        _pdf(spark, [(1, 1, 0), (2, 2, 0)]).coalesce(1), table
    )
    with pytest.raises(ValueError, match="straddle"):
        tt.commit_overwrite_partitions(
            table, "day", [1], ["data/x.parquet"], {"data/x.parquet": {"rows": 1, "cols": {"day": [1, 1]}}}
        )


def test_overwrite_partitions_preserves_null_partition_rows(spark, table):
    """Parquet min/max EXCLUDE nulls, so a legacy file can look
    single-valued while hiding NULL-partition rows; replacement must
    rewrite such files NULL-preservingly, never drop them wholesale
    (r9 review finding)."""
    legacy = spark.createDataFrame(
        [(1, 10, 0), (None, 11, 0), (None, 12, 0), (2, 13, 0)],
        "day int, id long, v long",
    ).coalesce(1)
    tt.append(legacy, table)
    tt.overwrite_partitions(spark, _pdf(spark, [(1, 99, 7)]), table, "day")
    got = sorted(
        [(r.day, r.id) for r in tt.read(spark, table).collect()],
        key=lambda x: (x[0] is None, x[0] or 0, x[1]),
    )
    assert (None, 11) in got and (None, 12) in got, "NULL rows destroyed"
    assert (1, 99) in got and (1, 10) not in got
    assert (2, 13) in got
    # a second replace still preserves them (re-landed all-NULL files
    # classify straddle and keep flowing through the residual filter)
    tt.overwrite_partitions(spark, _pdf(spark, [(2, 88, 8)]), table, "day")
    days = [r.day for r in tt.read(spark, table).collect()]
    assert days.count(None) == 2


def test_overwrite_partitions_date_typed_column(spark, table):
    """DATE/TIMESTAMP partition columns: footer stats are ISO strings,
    collected values are datetime objects — classification must meet
    them in one encoded domain (r9 review finding: without it every
    file straddles and every call rewrites the whole table)."""
    import datetime as dt

    rows = [
        (dt.date(2024, 1, d), 100 * d + i, 0)
        for d in (1, 2, 3)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "day date, id long, v long")
    base = tt.overwrite_partitions(spark, df, table, "day")
    upd = spark.createDataFrame(
        [(dt.date(2024, 1, 2), 999, 5)], "day date, id long, v long"
    )
    snap = tt.overwrite_partitions(spark, upd, table, "day")
    # untouched date partitions carried BY REFERENCE (same file names)
    untouched = {
        f for f in base.files
        if base.file_stats[f]["cols"]["day"][0] != "2024-01-02"
    }
    assert untouched and untouched <= set(snap.files)
    got = sorted((str(r.day), r.id) for r in tt.read(spark, table).collect())
    assert [i for d, i in got if d == "2024-01-02"] == [999]
    assert len([1 for d, _ in got if d == "2024-01-01"]) == 3


def test_overwrite_partitions_timestamp_typed_column(spark, table):
    """TIMESTAMP partition columns hit two encoding traps at once
    (r9 ADVICE): (a) Spark's default INT96 encoding carries no
    pyarrow-readable stats, so landed files would never classify —
    ``_write_partition_aligned`` must scope the write to
    TIMESTAMP_MICROS; (b) pyarrow footer stats arrive tz-AWARE UTC
    while Spark-collected values arrive NAIVE, so raw isoformat never
    matches (the ``+00:00`` suffix alone breaks equality even under a
    UTC driver) — ``_enc_stat`` must meet both in UTC-naive.  Without
    both fixes a replaced single-valued file classifies *keep* and its
    stale rows silently survive as duplicates."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, d, 12, 0, 0), 100 * d + i, 0)
        for d in (1, 2, 3)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "day timestamp, id long, v long")
    base = tt.overwrite_partitions(spark, df, table, "day")
    # the aligned write produced USABLE single-valued stats (INT96
    # would leave the column absent from every footer)
    for f in base.files:
        st = base.file_stats[f]["cols"].get("day")
        assert st is not None, f"{f}: no footer stats for timestamp col"
        assert st[0] == st[1]
    upd = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 12, 0, 0), 999, 5)],
        "day timestamp, id long, v long",
    )
    snap = tt.overwrite_partitions(spark, upd, table, "day")
    # k-of-N: untouched timestamp partitions carried BY REFERENCE
    replaced_enc = tt._enc_stat(dt.datetime(2024, 1, 2, 12, 0, 0))
    untouched = {
        f for f in base.files
        if base.file_stats[f]["cols"]["day"][0] != replaced_enc
    }
    assert untouched and untouched <= set(snap.files)
    # no stale duplicates in the replaced partition
    got = sorted((r.day, r.id) for r in tt.read(spark, table).collect())
    day2 = [i for d, i in got if d == dt.datetime(2024, 1, 2, 12, 0, 0)]
    assert day2 == [999], f"stale rows survived: {day2}"
    assert len([1 for d, _ in got if d.day == 1]) == 3
    assert len([1 for d, _ in got if d.day == 3]) == 3


_TZ_CHILD = r"""
import datetime as dt, json, sys
sys.path.insert(0, "/root/repo")
from play_bq_gcp_spark.storage import txn_table as tt
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.driver.extraJavaOptions",
            "-Duser.timezone=America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
path = sys.argv[1]
tt.init_table(path)
rows = [
    (dt.datetime(2024, 3, 1, d, 30, 0), 100 * d + i, 0)
    for d in (1, 2, 3)
    for i in range(3)
]
df = spark.createDataFrame(rows, "day timestamp, id long, v long")
base = tt.overwrite_partitions(spark, df, path, "day")
upd = spark.createDataFrame(
    [(dt.datetime(2024, 3, 1, 2, 30, 0), 999, 5)],
    "day timestamp, id long, v long",
)
snap = tt.overwrite_partitions(spark, upd, path, "day")
got = sorted(
    (r.day.isoformat(), r.id)
    for r in tt.read(spark, path).collect()
)
json.dump(
    {
        "base_files": list(base.files),
        "snap_files": list(snap.files),
        "base_stats": {f: base.file_stats[f]["cols"].get("day")
                       for f in base.files},
        "rows": got,
    },
    open(sys.argv[2], "w"),
)
spark.stop()
"""


def test_overwrite_partitions_timestamp_partition_non_utc_tz(tmp_path):
    """The r9 ADVICE scenario verbatim: a NON-UTC driver/session
    timezone shifts Spark-collected timestamp wall clocks away from
    the footers' UTC instants — a fresh subprocess JVM pinned to
    America/New_York (TZ env + user.timezone + session tz) replaces
    one timestamp partition and must neither duplicate it nor rewrite
    the bystanders."""
    import json as _json
    import subprocess
    import sys

    table = str(tmp_path / "t")
    out = str(tmp_path / "out.json")
    env = dict(os.environ, TZ="America/New_York")
    res = subprocess.run(
        [sys.executable, "-c", _TZ_CHILD, table, out],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, f"child failed:\n{res.stderr[-3000:]}"
    r = _json.load(open(out))
    # local wall 02:30 EST == 07:30 UTC; child collects local wall
    day2_rows = [i for d, i in r["rows"] if d.endswith("02:30:00")]
    assert day2_rows == [999], f"stale rows survived: {r['rows']}"
    assert len(r["rows"]) == 7  # 3 + 1 + 3
    # k-of-N: bystander partitions carried by reference
    replaced_enc = "2024-03-01T07:30:00"  # UTC-naive canonical domain
    untouched = {
        f for f, st in r["base_stats"].items()
        if st is not None and st[0] != replaced_enc
    }
    assert untouched, f"stats missing or all-replaced: {r['base_stats']}"
    assert untouched <= set(r["snap_files"]), "bystanders were rewritten"


def test_read_pruned_timestamp_column(spark, table):
    """Timestamp stats are recorded as UTC-naive ISO strings (r9/r10
    _enc_stat canonicalization), so query-side bounds must enter the
    same domain: a raw datetime bound used to compare str-vs-datetime
    (TypeError) — r10 self-review #1.  Pins: pruning actually skips
    files, and the result equals the unpruned filter."""
    import datetime as dt

    def day_df(day: int):
        return spark.createDataFrame(
            [(day * 100 + i, dt.datetime(2024, 3, day, 6 + i)) for i in range(3)],
            "id long, ts timestamp",
        )

    # default INT96 parquet timestamps carry no pyarrow-readable footer
    # stats (files would be conservatively kept, proving nothing);
    # MICROS is what the partition-aligned writer pins too
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        tt.append(day_df(1).coalesce(1), table)
        tt.append(day_df(2).coalesce(1), table)
        tt.append(day_df(3).coalesce(1), table)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)

    lo = dt.datetime(2024, 3, 2, 0, 0)
    hi = dt.datetime(2024, 3, 2, 23, 59)
    pruned = tt.read_pruned(spark, table, "ts", lo=lo, hi=hi)
    assert len(set(pruned.inputFiles())) == 1  # day-1/day-3 files skipped
    got = sorted(r.id for r in pruned.collect())
    expect = sorted(
        r.id
        for r in tt.read(spark, table)
        .filter("ts >= '2024-03-02 00:00' AND ts <= '2024-03-02 23:59'")
        .collect()
    )
    assert got == expect == [200, 201, 202]


def test_overwrite_partitions_on_object_store_pairing(spark, table):
    """Partition overwrite under the full object-store pairing:
    ConditionalPutCommit for manifests AND CopyDeleteFilesystem for
    the partition-aligned flatten (move = server-side copy + delete,
    no rename primitive) — the r10 verdict #4 portability claim,
    exercised end to end instead of asserted in a docstring."""
    tt.set_commit_strategy(table, tt.ConditionalPutCommit())
    tt.set_table_filesystem(table, tt.CopyDeleteFilesystem())
    try:
        base = tt.overwrite_partitions(
            spark,
            _pdf(
                spark,
                [(d, 10 * d + i, 0) for d in (1, 2) for i in range(3)],
            ),
            table,
            "day",
        )
        # every landed file is flat (no hive-style __pp= dirs survive)
        # and partition-aligned (min == max in its day stats)
        assert all(
            base.file_stats[f]["cols"]["day"][0]
            == base.file_stats[f]["cols"]["day"][1]
            for f in base.files
        )
        data_root = os.path.join(table, "data")
        for commit in os.listdir(data_root):
            assert not any(
                n.startswith("__pp=")
                for n in os.listdir(os.path.join(data_root, commit))
            )
        upd = tt.overwrite_partitions(
            spark, _pdf(spark, [(2, 77, 5)]), table, "day"
        )
        got = {(r.day, r.id, r.v) for r in tt.read(spark, table).collect()}
        assert got == {(1, 10, 0), (1, 11, 0), (1, 12, 0), (2, 77, 5)}
        # untouched day-1 files carried over by reference
        day1 = {
            f
            for f in base.files
            if base.file_stats[f]["cols"]["day"] == [1, 1]
        }
        assert day1 <= set(upd.files)
        # time travel still reads the pre-replace day-2 rows
        assert (
            tt.read(spark, table, version=base.version)
            .filter("day = 2")
            .count()
            == 3
        )
    finally:
        tt.set_commit_strategy(table, None)
        tt.set_table_filesystem(table, None)


def test_read_at_version_and_timestamp(spark, table):
    """read_at resolves both pin kinds: an explicit version, and a
    timestamp that maps to the latest commit at-or-before it; exactly
    one pin is required and a pre-table timestamp raises."""
    s1 = tt.append(_df(spark, 0, 5), table)
    s2 = tt.append(_df(spark, 5, 8), table)

    assert tt.read_at(spark, table, version=s1.version).count() == 5
    assert tt.read_at(spark, table, version=s2.version).count() == 8
    # timestamp between the two commits resolves to the first
    mid = (s1.committed_at + s2.committed_at) / 2
    assert tt.version_at(table, mid) == s1.version
    assert tt.read_at(spark, table, timestamp=mid).count() == 5
    # at-or-after the second commit resolves to it
    assert tt.read_at(
        spark, table, timestamp=s2.committed_at
    ).count() == 8
    with pytest.raises(ValueError, match="exactly one"):
        tt.read_at(spark, table)
    with pytest.raises(ValueError, match="exactly one"):
        tt.read_at(spark, table, version=1, timestamp=mid)
    with pytest.raises(ValueError, match="at or before"):
        tt.version_at(table, 0.0)


def _pin_commit_child(path, out_q):
    """Child process: land a REAL parquet file and commit it as the
    next version through the production commit loop (no Spark — the
    protocol is plain files + manifests)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        commit_id = "childcommit0"
        d = os.path.join(path, "data", commit_id)
        os.makedirs(d, exist_ok=True)
        f = os.path.join(d, "part-0.parquet")
        pq.write_table(
            pa.table({"id": [100, 101], "v": [200, 202]}), f
        )
        rel = os.path.join("data", commit_id, "part-0.parquet")
        snap = tt.commit_append(path, [rel], rows=2)
        out_q.put(("ok", snap.version))
    except BaseException as e:
        out_q.put(("err", repr(e)))


def test_time_travel_reader_pinned_across_process_commit(spark, table):
    """Snapshot isolation across PROCESSES: a reader pinned at version
    N collects the same rows before and after a separate OS process
    commits version N+1 — the writer can change the latest, never the
    pinned past (r12 verdict #3)."""
    import multiprocessing as mp

    s1 = tt.append(_df(spark, 0, 6).coalesce(1), table)
    before = sorted(map(tuple, tt.read_at(spark, table, version=s1.version).collect()))

    ctx = mp.get_context("spawn")
    out_q = ctx.Queue()
    p = ctx.Process(target=_pin_commit_child, args=(table, out_q))
    p.start()
    status, payload = out_q.get(timeout=120)
    p.join(timeout=60)
    assert status == "ok", payload
    assert payload == s1.version + 1 and p.exitcode == 0

    after = sorted(map(tuple, tt.read_at(spark, table, version=s1.version).collect()))
    assert after == before  # pinned read is stable across the commit
    latest = tt.read(spark, table)
    assert latest.count() == 8
    assert {r.id for r in latest.collect()} >= {100, 101}


def test_int_to_long_widen_mixed_version_files(spark, table):
    """int→long widening: v1 files physically int32, v2 evolves the
    column to long; the latest read returns ONE long-typed column over
    BOTH file generations, and time travel to v1 still sees int."""
    from pyspark.sql import functions as F

    narrow = spark.range(3).select(
        F.col("id").cast("int").alias("k"), F.lit(1).alias("n")
    )
    tt.append(narrow, table)
    wide = spark.createDataFrame(
        [(2**40, 2)], "k long, n int"
    )
    with pytest.raises(tt.SchemaEvolutionError):
        tt.append(wide, table)
    tt.append(wide, table, evolve=True)

    df = tt.read(spark, table)
    assert dict(df.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in df.collect()) == [0, 1, 2, 2**40]
    old = tt.read(spark, table, version=1)
    assert dict(old.dtypes)["k"] == "int"

    # a later NARROW append (int again) needs no evolve flag: the
    # declared schema already covers it, files widen on read
    tt.append(narrow.filter("k = 0"), table)
    assert tt.read(spark, table).filter("k = 0").count() == 2


def test_schema_evolution_rejects_incompatible_types(spark, table):
    """Non-widening type changes refuse loudly even with evolve=True —
    silent string→int coercion is how lakehouse tables rot."""
    tt.append(_df(spark, 0, 3), table)
    bad = spark.createDataFrame([("x", 1)], "id string, v long")
    with pytest.raises(tt.SchemaEvolutionError, match="cannot evolve"):
        tt.append(bad, table, evolve=True)


def test_declared_schema_survives_row_level_ops(spark, table):
    """delete_where / compact / merge carry the declared schema
    forward, so evolution survives maintenance: after an evolve, a
    delete, and a compact, reads still see the merged declaration
    with NULL backfill intact."""
    tt.append(_df(spark, 0, 5), table)
    tt.append(
        spark.range(5, 7).selectExpr("id", "id * 2 AS v", "'en' AS lang"),
        table,
        evolve=True,
    )
    tt.delete_where(spark, table, "id = 6")
    s = tt.compact(spark, table, target_files=1)
    assert s.schema is not None
    df = tt.read(spark, table)
    assert df.columns == ["id", "v", "lang"]
    rows = {r.id: r.lang for r in df.collect()}
    assert rows[5] == "en" and rows[0] is None and 6 not in rows


def test_restore_rolls_back_as_new_commit(spark, table):
    """restore(v) republishes version v's files/rows/schema as the
    NEW latest — manifest-only, zero data movement, history intact:
    the rolled-past versions stay time-travel-readable, and restoring
    across a schema-evolution boundary restores the old declaration."""
    s1 = tt.append(_df(spark, 0, 5), table)
    tt.append(_df(spark, 5, 9), table)
    tt.append(
        spark.range(9, 10).selectExpr("id", "id * 2 AS v", "'en' AS lang"),
        table,
        evolve=True,
    )

    s = tt.restore(table, s1.version)
    assert s.action == "restore" and s.meta == {"restored_from": 1}
    latest = tt.read(spark, table)
    assert latest.columns == ["id", "v"]  # pre-evolution declaration
    assert sorted(r.id for r in latest.collect()) == list(range(5))
    # the rolled-past evolved version is still readable by pin
    evolved = tt.read(spark, table, version=3)
    assert evolved.columns == ["id", "v", "lang"]
    assert evolved.count() == 10
    # restored files are the SAME files, by reference
    assert set(s.files) == set(s1.files)
    # vacuum keeping only the latest preserves the restored content
    tt.vacuum(table, keep_versions=1)
    assert sorted(r.id for r in tt.read(spark, table).collect()) == list(
        range(5)
    )


def test_merge_into_gates_widening_source(spark, table):
    """r13 review #1: a merge whose OUTPUT would widen a declared
    column must refuse before any file lands (ungated it would commit
    long files under an int declaration — unreadable at scan time);
    with evolve=True it commits and records the widened declaration."""
    from pyspark.sql import functions as F

    narrow = spark.range(4).select(
        F.col("id").alias("k"), F.col("id").cast("int").alias("v")
    )
    tt.append(narrow, table)
    v_before = tt.current_version(table)
    src = spark.createDataFrame([(1, 2**40)], "k long, v long")
    with pytest.raises(tt.SchemaEvolutionError):
        tt.merge_into(spark, table, src, "k", ["v"])
    # refusal landed nothing: no new version, table still readable
    assert tt.current_version(table) == v_before
    assert tt.read(spark, table).count() == 4

    s = tt.merge_into(spark, table, src, "k", ["v"], evolve=True)
    assert s.action == "merge"
    df = tt.read(spark, table)
    assert dict(df.dtypes)["v"] == "bigint"
    assert {r.v for r in df.collect()} == {0, 2**40, 2, 3}


def test_overwrite_partitions_gates_schema_change(spark, table):
    """r13 review #2: a partition replace whose df carries an extra
    column (or wider type) must refuse without evolve=True — ungated,
    the new files' extra column would be silently unreadable through
    the declared scan; with evolve=True the declaration widens."""
    base = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0)], "day int, id int, v double"
    )
    tt.append(base, table)
    replacement = spark.createDataFrame(
        [(2, 21, 2.5, "web")], "day int, id int, v double, source string"
    )
    with pytest.raises(tt.SchemaEvolutionError):
        tt.overwrite_partitions(spark, replacement, table, "day")
    tt.overwrite_partitions(
        spark, replacement, table, "day", evolve=True
    )
    df = tt.read(spark, table)
    assert "source" in df.columns
    got = {(r.day, r.id, r.source) for r in df.collect()}
    assert got == {(1, 10, None), (2, 21, "web")}


def test_legacy_table_does_not_adopt_first_append_schema(spark, table):
    """r13 review #3: a LEGACY table (manifests without a declared
    schema, files on disk) must NOT let the first post-upgrade
    append's schema become the declaration — a subset append would
    make the legacy files' other columns unreachable.  It stays
    schema-less (merge_schema reads keep working); overwrite is the
    explicit upgrade path."""
    import json

    tt.append(_df(spark, 0, 5), table)  # id, v
    # surgically strip the declared schema: simulate a pre-r13 manifest
    for v in tt.versions(table):
        p = tt._manifest_path(table, v)
        doc = json.load(open(p))
        doc.pop("schema", None)
        with open(p, "w") as f:
            json.dump(doc, f)
    assert tt.snapshot(table).schema is None

    # subset-schema append commits (appends never logically conflict)
    # but must NOT become the declaration
    tt.append(spark.range(5, 7).selectExpr("id"), table)
    assert tt.snapshot(table).schema is None
    # the legacy merge-schema read still surfaces every column
    df = tt.read(spark, table, merge_schema=True)
    assert set(df.columns) == {"id", "v"}
    assert df.count() == 7
    # explicit upgrade: overwrite resets the declaration
    tt.overwrite(_df(spark, 0, 3), table)
    assert tt.snapshot(table).schema is not None


def test_merge_schema_overrides_declared_read(spark, table):
    """r13 review #5: files landed through schema-less commit_append
    can carry columns beyond the declaration; read(merge_schema=True)
    is the explicit escape hatch that surfaces them (the declared scan
    cannot, by design)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tt.append(_df(spark, 0, 3), table)  # declared: id, v
    d = os.path.join(table, "data", "sidecar0")
    os.makedirs(d)
    pq.write_table(
        pa.table({"id": [99], "v": [198], "extra": ["x"]}),
        os.path.join(d, "part-0.parquet"),
    )
    tt.commit_append(
        table, [os.path.join("data", "sidecar0", "part-0.parquet")], rows=1
    )
    # declared scan: stable declared columns, extra invisible
    assert tt.read(spark, table).columns == ["id", "v"]
    # explicit override surfaces it with NULL backfill
    df = tt.read(spark, table, merge_schema=True)
    assert set(df.columns) == {"id", "v", "extra"}
    assert {r.extra for r in df.collect()} == {None, "x"}


def test_vacuum_survives_widening_retention_after_tight_vacuum(spark, table):
    """Found by tools/fuzz_txn.py seed 402: vacuum(keep=1) deletes old
    manifests; a LATER vacuum with a wider keep_versions computes a
    cutoff below that horizon and must skip the already-vacuumed
    versions instead of crashing on the missing manifest — the
    alternating-retention maintenance schedule any real deployment
    runs."""
    tt.append(_df(spark, 0, 5), table)     # v1
    tt.append(_df(spark, 5, 8), table)     # v2
    tt.vacuum(table, keep_versions=1)      # manifests v0, v1 deleted
    tt.append(_df(spark, 8, 10), table)    # v3
    removed = tt.vacuum(table, keep_versions=3)  # cutoff=1 < horizon
    # no DATA file may go (write-marker stragglers are fair game)
    assert not [f for f in removed if f.endswith(".parquet")]
    assert tt.read(spark, table).count() == 10
    assert tt.read_at(spark, table, version=2).count() == 8


def test_merge_into_empty_source_carries_every_file(spark, table):
    """A source with no non-NULL key matches no base row: every base
    file is carried byte-identical and nothing new lands, whether the
    source is empty or holds only NULL keys (update-only)."""
    import hashlib

    for lo in (0, 100, 200):  # three single-file commits
        tt.append(_df(spark, lo, lo + 100).coalesce(1), table)
    before = tt.snapshot(table)
    assert len(before.files) == 3

    def sha(f):
        with open(os.path.join(table, f), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    digests = {f: sha(f) for f in before.files}
    empty = spark.createDataFrame([], "id long, v long")
    out = tt.merge_into(spark, table, empty, "id", ["v"])
    assert out.files == before.files and out.rows == 300
    assert {f: sha(f) for f in out.files} == digests
    null_keys = spark.createDataFrame([(None, 1)], "id long, v long")
    out = tt.merge_into(spark, table, null_keys, "id", ["v"], insert=False)
    assert out.files == before.files
    got = sorted((r.id, r.v) for r in tt.read(spark, table).collect())
    assert got == [(i, i * 2) for i in range(300)]


def test_every_commit_goes_through_the_commit_helper():
    """Spark-free guard: ``_publish`` is called, and ``Snapshot`` built,
    only by the commit helper, ``init_table`` (version 0) and
    ``snapshot()`` (reading a manifest back) — a writer that hand-builds
    its manifest fails here."""
    import ast
    import pathlib

    allowed = {"_commit", "init_table", "snapshot"}
    src = pathlib.Path(tt.__file__)
    tree = ast.parse(src.read_text(), filename=str(src))
    fns = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]

    def enclosing(lineno):  # innermost function holding the line
        inside = [f for f in fns if f.lineno <= lineno <= f.end_lineno]
        return max(inside, key=lambda f: f.lineno).name if inside else "<module>"

    seen, offenders = set(), []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in ("_publish", "Snapshot")
        ):
            fn = enclosing(node.lineno)
            seen.add(fn)
            if fn not in allowed:
                offenders.append(f"{fn}:{node.lineno} {node.func.id}(")
    assert not offenders, offenders
    assert seen == allowed, allowed - seen

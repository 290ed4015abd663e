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


def _sql_lit(v) -> str:
    import datetime as dt

    if isinstance(v, dt.datetime):
        return f"TIMESTAMP'{v.isoformat(' ')}'"
    if isinstance(v, dt.date):
        return f"DATE'{v.isoformat()}'"
    return repr(v)


def _pruned_delete(spark, table, col, lo=None, hi=None):
    """``delete_where`` of ``col`` within [lo, hi], pruned on ``col``
    with the same bounds, then rolled back: (files rewritten, files
    carried, surviving ids, ids of the unpruned complement — what an
    unpruned read filtered on NOT [lo, hi] keeps)."""
    terms = [f"{col} >= {_sql_lit(lo)}"] if lo is not None else []
    terms += [f"{col} <= {_sql_lit(hi)}"] if hi is not None else []
    cond = " AND ".join(terms)
    before = tt.snapshot(table)
    expect = sorted(
        r.id for r in tt.read(spark, table).filter(f"NOT ({cond})").collect()
    )
    s = tt.delete_where(spark, table, cond, prune_col=col, lo=lo, hi=hi)
    got = sorted(r.id for r in tt.read(spark, table).collect())
    tt.restore(table, before.version)
    return (
        len(set(before.files) - set(s.files)),
        len(set(before.files) & set(s.files)),
        got,
        expect,
    )


def test_delete_where_prunes_files_and_matches_plain_filter(spark, table):
    # three disjoint commits → disjoint id ranges per file set
    tt.append(_df(spark, 0, 100).coalesce(1), table)
    tt.append(_df(spark, 100, 200).coalesce(1), table)
    tt.append(_df(spark, 200, 300).coalesce(1), table)

    # file skipping proven by the manifest: only the middle file is
    # rewritten, the outer two carry by reference
    rewritten, carried, got, expect = _pruned_delete(
        spark, table, "id", lo=120, hi=180
    )
    assert (rewritten, carried) == (1, 2)
    assert got == expect == [i for i in range(300) if not 120 <= i <= 180]

    # fully-out-of-range predicate: zero files rewritten, no row lost
    rewritten, carried, got, expect = _pruned_delete(
        spark, table, "id", lo=10_000
    )
    assert (rewritten, carried) == (0, 3)
    assert got == expect == list(range(300))


def test_delete_where_rewrites_files_without_stats(spark, table, monkeypatch):
    """A file lacking stats for the predicate column must be rewritten,
    never carried — missing metadata degrades to a full rewrite, not
    to matching rows that survive the delete."""
    import dataclasses

    tt.append(_df(spark, 0, 50), table)
    n_files = len(tt.snapshot(table).files)
    real = tt.snapshot

    def stripped(path, version=None):
        return dataclasses.replace(real(path, version), file_stats={})

    monkeypatch.setattr(tt, "snapshot", stripped)
    rewritten, carried, got, expect = _pruned_delete(
        spark, table, "id", lo=0, hi=9
    )
    assert (rewritten, carried) == (n_files, 0)
    assert got == expect == list(range(10, 50))


def test_clustered_write_makes_stats_selective(spark, table):
    """Range-clustered commits give near-disjoint per-file ranges, so a
    narrow predicate rewrites ~1 file; the same data committed shuffled
    spans the domain in every file and prunes nothing."""
    import pyspark.sql.functions as F

    df = (
        spark.range(0, 2000)
        .withColumn("k", F.xxhash64("id") % 1000)  # shuffled key order
        .repartition(8)
    )
    tt.overwrite(df, table, cluster_by=["k"], target_files=8)
    rewritten, carried, got, expect = _pruned_delete(
        spark, table, "k", lo=0, hi=10
    )
    assert rewritten < len(tt.snapshot(table).files)
    assert carried > 0
    assert got == expect
    assert len(got) == df.filter("NOT (k >= 0 AND k <= 10)").count()


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


def _land_ts_rows(spark, table, rows) -> None:
    """Append ``(id, ts)`` rows as one file.  Default INT96 parquet
    timestamps carry no pyarrow-readable footer stats (every file would
    be kept, proving nothing), so the file lands as TIMESTAMP_MICROS."""
    from play_bq_gcp_spark.session import scoped_conf

    with scoped_conf(
        spark, {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
    ):
        tt.append(
            spark.createDataFrame(rows, "id long, ts timestamp").coalesce(1),
            table,
        )


def _land_ts_days(spark, table, hour: int) -> None:
    """Land days 1-3 of March 2024 as one file each: three rows at
    ``hour``..``hour + 2``, ids ``day * 100 + i``."""
    import datetime as dt

    for day in (1, 2, 3):
        _land_ts_rows(
            spark, table,
            [(day * 100 + i, dt.datetime(2024, 3, day, hour + i))
             for i in range(3)],
        )


def test_delete_where_prunes_timestamp_column(spark, table):
    """Timestamp stats are recorded as UTC-naive ISO strings (the
    ``_enc_stat`` canonicalization), so query-side bounds must enter
    the same domain: a raw datetime bound would compare
    str-vs-datetime (TypeError).  A ``date`` bound compares at that
    day's midnight, as Spark does: a fourth file holds one row at
    exactly 2024-03-03T00:00, which ``hi = date(2024, 3, 3)`` must
    rewrite (its ISO day alone sorts before that instant).  Pins, for
    both bound types: pruning actually carries files, and the
    surviving rows equal the unpruned complement."""
    import datetime as dt

    _land_ts_days(spark, table, 6)
    _land_ts_rows(spark, table, [(399, dt.datetime(2024, 3, 3))])
    all_ids = [100, 101, 102, 200, 201, 202, 300, 301, 302, 399]
    for lo, hi, n_rewritten, deleted in [
        (dt.datetime(2024, 3, 2, 0, 0), dt.datetime(2024, 3, 2, 23, 59),
         1, [200, 201, 202]),
        (dt.date(2024, 3, 2), dt.date(2024, 3, 3), 2, [200, 201, 202, 399]),
    ]:
        rewritten, carried, got, expect = _pruned_delete(
            spark, table, "ts", lo, hi
        )
        # day-1/day-3 files carried
        assert (rewritten, carried) == (n_rewritten, 4 - n_rewritten), (lo, hi)
        assert got == expect == [i for i in all_ids if i not in deleted], (lo, hi)


def test_delete_where_date_bound_on_timestamp_column(spark, table):
    """``delete_where`` prunes with the same ``_overlapping``: a
    ``date`` bound on a timestamp column must keep the file whose min
    is exactly that day's midnight, or its matching row survives the
    delete.  Only that file is rewritten; the others carry."""
    import datetime as dt

    _land_ts_days(spark, table, 6)
    _land_ts_rows(spark, table, [(399, dt.datetime(2024, 3, 3))])
    before = tt.snapshot(table)
    day = dt.date(2024, 3, 3)
    s = tt.delete_where(
        spark, table, "ts >= DATE'2024-03-03' AND ts <= DATE'2024-03-03'",
        prune_col="ts", lo=day, hi=day,
    )
    assert len(set(before.files) & set(s.files)) == 3
    got = sorted(r.id for r in tt.read(spark, table).collect())
    assert got == [100, 101, 102, 200, 201, 202, 300, 301, 302]


_TZ_CHILD = r"""
import datetime as dt, json, sys
from pyspark.sql import SparkSession
import test_txn_table as T
from play_bq_gcp_spark.storage import txn_table as tt

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
# rows at 20:00-22:00 New York time fall on the NEXT day in UTC
T._land_ts_days(spark, path, 20)
stats = [tt.snapshot(path).file_stats[f]["cols"].get("ts")
         for f in tt.snapshot(path).files]
by_time = T._pruned_delete(
    spark, path, "ts",
    dt.datetime(2024, 3, 2, 0, 0), dt.datetime(2024, 3, 2, 23, 59),
)
# date bounds compare at New York midnight, 05:00 UTC
by_date = T._pruned_delete(
    spark, path, "ts", dt.date(2024, 3, 2), dt.date(2024, 3, 3)
)
json.dump({"by_time": by_time, "by_date": by_date, "stats": stats},
          open(sys.argv[2], "w"))
spark.stop()
"""


def test_delete_where_timestamp_non_utc_tz(tmp_path):
    """A NON-UTC driver/session timezone shifts Spark-collected (naive,
    local) timestamps away from the footers' UTC instants.  A fresh
    subprocess JVM pinned to America/New_York (TZ env + user.timezone
    + session tz) lands one file per local day at 20:00-22:00, which
    is the next day in UTC, and deletes on a naive local-day bound.
    Without ``_enc_stat``'s naive->UTC conversion the bound would
    compare as UTC wall time: it would rewrite day 1's file and carry
    day 2's, so every matching row would survive the delete.  A
    ``date`` upper bound must likewise widen to New York midnight
    (05:00 UTC): its ISO day alone sorts before day 2's UTC stats and
    carried that file."""
    import json as _json
    import pathlib
    import subprocess
    import sys

    here = pathlib.Path(__file__).resolve().parent
    table = str(tmp_path / "t")
    out = str(tmp_path / "out.json")
    env = dict(
        os.environ,
        TZ="America/New_York",
        PYTHONPATH=os.pathsep.join(
            [str(here), str(here.parent), os.environ.get("PYTHONPATH", "")]
        ),
    )
    res = subprocess.run(
        [sys.executable, "-c", _TZ_CHILD, table, out],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, f"child failed:\n{res.stderr[-3000:]}"
    r = _json.load(open(out))
    # footer stats are UTC-naive: local 2024-03-02 20:00 EST is
    # 2024-03-03 01:00 UTC
    assert ["2024-03-03T01:00:00", "2024-03-03T03:00:00"] in r["stats"]
    survivors = [100, 101, 102, 300, 301, 302]
    rewritten, carried, got, expect = r["by_time"]
    assert (rewritten, carried) == (1, 2), r
    assert got == expect == survivors, r
    # the lower ISO-day bound rewrites day 1's file too (conservative)
    rewritten, carried, got, expect = r["by_date"]
    assert (rewritten, carried) == (2, 1), r
    assert got == expect == survivors, r


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


def test_merge_into_prunes_composite_key(spark, table):
    """A ``(k, j)`` merge keeps a base file only when it overlaps the
    source's [min, max] on EVERY key column: four files split k and j
    into halves, the source's k range overlaps two of them and its j
    range another two, and only the one file in both is rewritten.
    The result equals an unpruned merge over the whole table; an empty
    source carries every file."""
    from play_bq_gcp_spark.operators.merge import merge_insert_and_upsert

    for k0, j0 in [(0, 0), (0, 10), (100, 0), (100, 10)]:
        tt.append(
            spark.range(k0, k0 + 100)
            .selectExpr("id AS k", f"{j0} + id % 10 AS j", "id AS v")
            .coalesce(1),
            table,
        )
    before = tt.snapshot(table)
    assert len(before.files) == 4
    src = spark.createDataFrame(
        [(50, 0, -1), (57, 3, -2)],  # update (50, 0); insert (57, 3)
        "k long, j long, v long",
    )
    expect = sorted(
        map(tuple, merge_insert_and_upsert(
            tt.read(spark, table), src, ["k", "j"], ["v"]
        ).collect())
    )
    out = tt.merge_into(spark, table, src, ["k", "j"], ["v"])
    assert len(set(before.files) - set(out.files)) == 1
    assert len(set(before.files) & set(out.files)) == 3
    got = sorted(map(tuple, tt.read(spark, table).collect()))
    assert got == expect
    assert (50, 0, -1) in got and (57, 3, -2) in got and len(got) == 401

    mid = tt.snapshot(table)
    empty = spark.createDataFrame([], "k long, j long, v long")
    out = tt.merge_into(spark, table, empty, ["k", "j"], ["v"])
    assert out.files == mid.files and out.rows == 401


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

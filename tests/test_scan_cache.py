"""Focused pins for the catalog scan-handle cache internals (r14:
fingerprint key + single-entry-per-path eviction, the r13 ADVICE
items).  The cache stores lazy PLAN handles only; these tests pin its
invalidation semantics, not any data caching."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from play_bq_gcp_spark import catalog


def _write_table(spark, base: str, rows: int) -> str:
    path = os.path.join(base, "t.parquet")
    spark.range(rows).toDF("doc_id").write.mode("overwrite").parquet(path)
    return path


def test_scan_cache_hit_returns_same_handle(spark, tmp_path):
    base = str(tmp_path)
    _write_table(spark, base, 5)
    df1 = catalog.read_table(spark, base, "t")
    df2 = catalog.read_table(spark, base, "t")
    assert df1 is df2  # memoized lazy handle, not a rebuilt scan


def test_scan_cache_invalidates_on_inplace_part_rewrite(spark, tmp_path):
    """The r13 ADVICE hole: overwriting an existing part file IN PLACE
    (same filename) does not change the directory mtime on POSIX, so a
    dir-mtime-only key would serve a stale listing.  The fingerprint
    takes the max over entry mtimes, so the touched part invalidates
    even with the directory mtime pinned back to its old value."""
    base = str(tmp_path)
    path = _write_table(spark, base, 5)
    df1 = catalog.read_table(spark, base, "t")
    dir_stat = os.stat(path)
    part = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )[0]
    # ensure the new mtime differs even on coarse-grained filesystems
    now = time.time() + 2
    os.utime(os.path.join(path, part), (now, now))
    os.utime(path, (dir_stat.st_atime, dir_stat.st_mtime))  # dir unchanged
    df3 = catalog.read_table(spark, base, "t")
    assert df3 is not df1


def _crc(f: str) -> str:
    return os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")


def test_scan_cache_invalidates_on_nested_part_rewrite(spark, tmp_path):
    """The same hole one level down: in a partitioned dataset the part
    files live in ``key=x/`` subdirectories, so rewriting one IN PLACE
    changes neither the root's mtime nor any immediate entry's.  The
    fingerprint recurses, so the rewrite still forces a fresh scan."""
    base = str(tmp_path)
    path = os.path.join(base, "t.parquet")

    def write(dest, rows):
        (
            spark.range(rows).toDF("doc_id").withColumn("key", F.lit(0))
            .coalesce(1).write.mode("overwrite").partitionBy("key")
            .parquet(dest)
        )
        part_dir = os.path.join(dest, "key=0")
        (part,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        return part_dir, os.path.join(part_dir, part)

    part_dir, part = write(path, 5)
    df1 = catalog.read_table(spark, base, "t")
    assert df1.count() == 5
    dir_stats = [(d, os.stat(d)) for d in (path, part_dir)]
    _, other = write(str(tmp_path / "other.parquet"), 7)
    # same filenames, same inodes; the checksum sidecar moves with its
    # part or the local filesystem rejects the read
    for src, dst in ((other, part), (_crc(other), _crc(part))):
        shutil.copyfile(src, dst)
    now = time.time() + 2  # distinct mtime on coarse filesystems too
    os.utime(part, (now, now))
    for d, st in dir_stats:  # both directory mtimes unchanged
        os.utime(d, (st.st_atime, st.st_mtime))
    df2 = catalog.read_table(spark, base, "t")
    assert df2 is not df1
    assert df2.count() == 7


def test_scan_cache_holds_one_entry_per_path(spark, tmp_path):
    """Rewrites must REPLACE the path's entry, never accumulate —
    the unbounded-growth half of the r13 ADVICE item."""
    base = str(tmp_path)
    path = _write_table(spark, base, 5)
    catalog.read_table(spark, base, "t")
    n_before = sum(1 for k in catalog._SCAN_CACHE if k == path)
    _write_table(spark, base, 7)
    df2 = catalog.read_table(spark, base, "t")
    n_after = sum(1 for k in catalog._SCAN_CACHE if k == path)
    assert n_before == n_after == 1
    assert df2.count() == 7  # fresh listing, not the stale 5-row scan

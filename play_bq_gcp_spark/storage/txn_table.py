"""Transactional multi-version table on plain parquet (SURVEY.md §4.3-1).

The reference leans on BigQuery for transactional semantics: its upsert
runs a remote ``UPDATE … FROM`` inside the warehouse's own transaction
(/root/reference/main.py:274-284), and a mid-run crash can never expose
readers to half-applied state.  THIS module gives the rebuild that
guarantee with the manifest pattern every modern lakehouse format
(Delta, Iceberg, Hudi — all public designs) is built on:

* **Data files are immutable.** Every commit writes NEW parquet files
  under ``data/``; nothing is modified or deleted by writers.
* **A manifest is the table.** ``_versions/v<N>.json`` lists exactly
  the files that make up version N.  Readers load the manifest and
  scan those files by name — never a directory listing — so a reader
  can NEVER observe a half-written commit, regardless of crash timing.
* **Commit = one atomic exclusive create.** Publishing version N+1 is a
  single "create manifest iff absent" — the filesystem's link-based
  compare-and-swap, or an object store's conditional PUT (see
  ``CommitStrategy``).  Two concurrent writers racing to the same
  version: exactly one wins; the loser re-reads the new state and
  retries (append — no logical conflict) or aborts (overwrite).
  Every writer publishes through the one helper ``_commit`` (files
  carried by reference + files added), and every rebasing writer
  retries through ``_with_retries``.
* **Old versions stay readable** (time travel / snapshot isolation):
  a reader holding version N is unaffected by later commits, because
  N's files are immutable and still present.

Scale shape: the manifest holds file paths + counts, not data — O(files)
bytes.  On a 1000-executor cluster the only serialization point is the
tiny manifest create; data writes fan out through normal distributed
parquet jobs.  The atomic create itself sits behind an injectable
``CommitStrategy`` seam: ``PosixExclusiveCreate`` (default; tmp +
fsync + link) for shared filesystems, ``ConditionalPutCommit``
(PUT-if-none-match shaped) for object stores — the protocol and every
caller are identical across strategies, which is exactly why the
formats above survive on S3.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from play_bq_gcp_spark.session import scoped_conf


class CommitConflict(Exception):
    """Another writer published the version this commit was built
    against; the caller must re-read and re-apply (or give up)."""


@dataclass(frozen=True)
class Snapshot:
    version: int
    files: tuple[str, ...]
    rows: int
    action: str
    committed_at: float
    # commit-scoped application metadata (e.g. the streaming batch_id
    # an exactly-once sink uses to recognize replays)
    meta: dict = field(default_factory=dict)
    # per-file parquet footer stats: {rel_path: {"rows": n,
    # "cols": {col: [min, max]}}} — powers manifest-level file skipping
    file_stats: dict = field(default_factory=dict)
    # the DECLARED table schema at this version (StructType.jsonValue()
    # dict), or None for legacy manifests written before r13.  Data
    # files may physically lag the declared schema (missing columns →
    # NULL backfill, narrower ints/floats → widened on read): the
    # manifest, not the files, is the schema of record — the same
    # contract Delta/Iceberg keep in their table metadata.
    schema: dict | None = None


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_versions_dir(path), f"v{version:010d}.json")


def init_table(path: str) -> None:
    """Create an empty table: version 0, no files."""
    os.makedirs(_versions_dir(path), exist_ok=True)
    os.makedirs(_data_dir(path), exist_ok=True)
    try:
        _publish(path, 0, Snapshot(0, (), 0, "create", time.time()))
    except CommitConflict:
        raise FileExistsError(f"table already initialized: {path}")


def current_version(path: str) -> int:
    """Highest committed version, from the manifest directory listing.
    Listing is only used to find the LATEST version — correctness of
    any one version never depends on the listing, so an in-flight
    commit appearing mid-list is harmless (it is complete by
    construction the moment it is visible)."""
    vs = [
        int(f[1:11])
        for f in os.listdir(_versions_dir(path))
        if f.startswith("v") and f.endswith(".json")
    ]
    if not vs:
        raise FileNotFoundError(f"not a txn table (no versions): {path}")
    return max(vs)


def snapshot(path: str, version: int | None = None) -> Snapshot:
    v = current_version(path) if version is None else version
    with open(_manifest_path(path, v)) as f:
        doc = json.load(f)
    return Snapshot(
        v,
        tuple(doc["files"]),
        doc["rows"],
        doc["action"],
        doc["committed_at"],
        doc.get("meta", {}),
        doc.get("stats", {}),
        doc.get("schema"),
    )


class CommitStrategy:
    """Seam for the ONE atomic primitive the manifest protocol needs:
    "create this manifest iff absent".  Everything else in the module
    (immutable data files, manifest contents, retry/conflict policy)
    is strategy-independent, which is exactly why the same protocol
    runs on POSIX and on object stores."""

    def create_exclusive(self, target: str, payload: bytes) -> bool:
        """Atomically make ``target`` exist with ``payload``, iff it
        does not already exist.  True = this caller committed; False =
        someone else already had — never partial visibility either way."""
        raise NotImplementedError


class PosixExclusiveCreate(CommitStrategy):
    """Local-filesystem commit: write a temp file, fsync, ``link`` it
    into place (atomic, fails-if-exists — the filesystem's
    compare-and-swap), fsync the directory so a crash after "committed"
    cannot roll the commit back (file fsync covers bytes, not the
    directory entry)."""

    def create_exclusive(self, target: str, payload: bytes) -> bool:
        d = os.path.dirname(target)
        tmp = os.path.join(d, f"_tmp_{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return True


class ConditionalPutCommit(CommitStrategy):
    """Object-store-shaped commit: models S3/GCS ``PUT
    If-None-Match: *`` — the store's key index decides the race in one
    atomic step, and the object is fully visible the moment the PUT is
    accepted (no partial writes, no link/rename primitives).  The
    "bucket index" here is an in-process dict guarded by a lock, with
    the object body landed inside the critical section, preserving the
    real primitive's atomicity; an injectable ``on_commit`` hook lets
    tests crash a writer at the instant its PUT was accepted.

    This is the strategy a real object-store deployment would swap in
    (with the lock/dict replaced by the store's own conditional PUT);
    the protocol — and every caller — is unchanged."""

    def __init__(self, on_commit=None):
        import threading

        self._lock = threading.Lock()
        self._index: set[str] = set()
        self._on_commit = on_commit

    def create_exclusive(self, target: str, payload: bytes) -> bool:
        with self._lock:
            if target in self._index or os.path.exists(target):
                return False
            # "PUT accepted": key reserved and object landed atomically.
            # The body goes down as tmp + rename so a writer crashing
            # mid-write can never leave a partial manifest at ``target``
            # (rename is atomic on POSIX; a real object store gives the
            # same guarantee natively — the PUT is all-or-nothing).
            d = os.path.dirname(target)
            tmp = os.path.join(d, f"_put_{uuid.uuid4().hex}.json")
            try:
                with open(tmp, "wb") as f:
                    f.write(payload)
                    f.flush()
                    # Durability, not just atomicity: without fsync the
                    # rename can survive an OS crash while the data
                    # blocks don't, leaving an empty/truncated manifest
                    # at ``target`` — exactly what this path precludes.
                    os.fsync(f.fileno())
                os.rename(tmp, target)
                dfd = os.open(d, os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except BaseException:
                if os.path.exists(tmp):
                    os.unlink(tmp)
                raise
            self._index.add(target)
        if self._on_commit is not None:
            self._on_commit(target)
        return True


class TableFilesystem:
    """Seam for the NON-commit filesystem operations the write path
    needs — list / move / remove inside the table's own data dir
    (the partition-aligned flatten in ``_write_partition_aligned``).
    Kept separate from ``CommitStrategy`` because the primitives
    differ: commits need one atomic create-if-absent, the flatten only
    needs moves of files no reader can see yet (they enter a manifest
    only after the flatten), so per-op atomicity is NOT required —
    which is what makes an object store's copy+delete an admissible
    implementation."""

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def move(self, src: str, dst: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError


class PosixFilesystem(TableFilesystem):
    """Local default: same-filesystem rename (cheap, atomic — stronger
    than the seam demands)."""

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def move(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


class CopyDeleteFilesystem(TableFilesystem):
    """Object-store-shaped filesystem: no rename primitive — ``move``
    is server-side COPY then DELETE (S3/GCS CopyObject), ``listdir``
    models a prefix LIST.  Pairs with ``ConditionalPutCommit`` the way
    a real object-store deployment would: pre-manifest files are
    invisible to readers, so the non-atomic move is safe, and a crash
    between copy and delete leaks an orphan object that no manifest
    references (vacuum fodder, never a correctness issue)."""

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def move(self, src: str, dst: str) -> None:
        import shutil

        shutil.copyfile(src, dst)
        os.unlink(src)

    def rmtree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


_DEFAULT_STRATEGY = PosixExclusiveCreate()
_COMMIT_STRATEGIES: dict[str, CommitStrategy] = {}
_DEFAULT_FILESYSTEM = PosixFilesystem()
_TABLE_FILESYSTEMS: dict[str, TableFilesystem] = {}


def set_table_filesystem(path: str, fs: TableFilesystem | None) -> None:
    """Bind a write-path filesystem to a table path (None restores the
    POSIX default) — the data-file sibling of ``set_commit_strategy``."""
    key = os.path.abspath(path)
    if fs is None:
        _TABLE_FILESYSTEMS.pop(key, None)
    else:
        _TABLE_FILESYSTEMS[key] = fs


def _fs_for(path: str) -> TableFilesystem:
    return _TABLE_FILESYSTEMS.get(os.path.abspath(path), _DEFAULT_FILESYSTEM)


def set_commit_strategy(path: str, strategy: CommitStrategy | None) -> None:
    """Bind a commit strategy to a table path (None restores the POSIX
    default).  Strategy choice is per-table so one process can serve
    local and object-store tables side by side."""
    key = os.path.abspath(path)
    if strategy is None:
        _COMMIT_STRATEGIES.pop(key, None)
    else:
        _COMMIT_STRATEGIES[key] = strategy


def _strategy_for(path: str) -> CommitStrategy:
    return _COMMIT_STRATEGIES.get(os.path.abspath(path), _DEFAULT_STRATEGY)


def _publish(path: str, version: int, snap: Snapshot) -> None:
    """The commit point: one exclusive create of the next manifest via
    the table's ``CommitStrategy`` (POSIX link or conditional PUT); a
    reader can never parse a half-written manifest because both
    strategies make the bytes appear atomically."""
    doc = {
        "files": list(snap.files),
        "rows": snap.rows,
        "action": snap.action,
        "committed_at": snap.committed_at,
        "meta": snap.meta,
        "stats": snap.file_stats,
    }
    if snap.schema is not None:
        doc["schema"] = snap.schema
    payload = json.dumps(doc).encode()
    if not _strategy_for(path).create_exclusive(
        _manifest_path(path, version), payload
    ):
        raise CommitConflict(f"version {version} already committed at {path}")


def _commit(
    path: str,
    base: Snapshot,
    carried,
    new_files,
    new_stats: dict,
    action: str,
    meta: dict | None,
    schema: dict | None,
    rows: int | None = None,
) -> Snapshot:
    """Publish version ``base.version + 1``: the ``carried`` base files
    (by reference, with their recorded stats) followed by the
    ``new_files``.  The row count is summed from the stats unless the
    caller passes ``rows`` (files landed without stats — pre-landed
    sink files, legacy tables — carry none).  Raises ``CommitConflict``
    when that version already exists."""
    stats = {f: base.file_stats[f] for f in carried if f in base.file_stats}
    stats.update(new_stats)
    snap = Snapshot(
        base.version + 1,
        tuple(carried) + tuple(new_files),
        sum(s["rows"] for s in stats.values()) if rows is None else rows,
        action,
        time.time(),
        dict(meta or {}),
        stats,
        schema,
    )
    _publish(path, snap.version, snap)
    return snap


def _with_retries(what: str, path: str, max_retries: int, attempt) -> Snapshot:
    """Run ``attempt(latest snapshot)`` until it publishes: on
    ``CommitConflict`` re-read the winner's snapshot and run it again
    (the rebase), at most ``max_retries`` times.  For writers whose
    commit stays sound on top of a racing one (append, restore,
    partition replace); the rest commit once and raise."""
    for _ in range(max_retries):
        try:
            return attempt(snapshot(path))
        except CommitConflict:
            continue
    raise CommitConflict(f"{what} lost {max_retries} races at {path}")


def _enc_stat(v):
    """Canonical JSON encoding for a stats value — ALSO applied to
    query-side values before comparing against recorded stats, so
    typed values (datetime/date/bytes) and their footer encodings
    (isoformat/utf-8 strings) land in the same, order-preserving
    domain (ISO-8601 strings compare lexicographically in
    chronological order).

    Timestamps need an explicit canonical domain — **UTC-naive** —
    because the two sides arrive in DIFFERENT encodings: pyarrow
    footer stats for ``isAdjustedToUTC`` parquet timestamps are
    tz-AWARE UTC datetimes, while Spark-collected ``TimestampType``
    values are NAIVE datetimes in the driver's local wall clock
    (pyspark's ``TimestampType.fromInternal`` goes through
    ``datetime.fromtimestamp``).  Raw ``isoformat()`` of those never
    matches — the aware side carries a ``+00:00`` suffix and, under a
    non-UTC driver TZ, a shifted wall time — so a replaced timestamp
    partition would fail the hit test, classify its file as *keep*,
    and silently survive as duplicate rows.  Both sides therefore
    normalize here: aware → convert to UTC, naive → interpret as local
    wall time then convert to UTC, and drop tzinfo before isoformat.
    (TIMESTAMP_NTZ stats and values are both naive wall clocks; they
    shift by the same local offset on both sides, so equality and
    order are preserved.  Within a DST fall-back hour the local→UTC
    interpretation is ambiguous — both sides resolve it identically,
    keeping the comparison consistent.)"""
    import datetime as _dt

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.astimezone()  # naive == driver-local wall time
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None).isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _file_stats(abs_path: str) -> dict:
    """Per-file column stats from the parquet footer (metadata-only
    read): {col: [min, max]} for columns whose row groups all carry
    stats, per-column NULL counts (-1 when any row group omits them),
    plus the footer's exact row count.  JSON-encodable values only —
    bytes/timestamps fall back to ISO/utf-8 strings, and any
    non-encodable stat drops the column (pruning then keeps the file:
    always safe).  NULL counts exist because parquet min/max EXCLUDE
    nulls: a file can be single-valued on its non-null rows and still
    carry NULL rows, which partition replacement must not destroy."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    null_cov: dict[str, int] = {}  # row groups that REPORTED a count
    ok = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        cols = {}
        for i in range(rg.num_columns):
            c = rg.column(i)
            st = c.statistics
            if st is None:
                continue
            name = c.path_in_schema
            if st.null_count is not None:
                null_cov[name] = null_cov.get(name, 0) + 1
                if nulls.get(name, 0) >= 0:
                    nulls[name] = nulls.get(name, 0) + st.null_count
            else:
                nulls[name] = -1
            if not st.has_min_max:
                continue
            cols[name] = (st.min, st.max)
        ok = set(cols) if ok is None else (ok & set(cols))
        for name, (lo, hi) in cols.items():
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi

    # a column whose null count wasn't reported by EVERY row group is
    # unknown (-1) — partial sums would undercount
    for name in list(nulls):
        if null_cov.get(name, 0) != md.num_row_groups:
            nulls[name] = -1
    stats = {}
    for name in ok or ():
        try:
            pair = [_enc_stat(mins[name]), _enc_stat(maxs[name])]
            json.dumps(pair)
        except (TypeError, ValueError):
            continue
        stats[name] = pair
    return {"rows": md.num_rows, "cols": stats, "nulls": nulls}


def _cluster(df: DataFrame, cluster_by, target_files=None) -> DataFrame:
    """Range-cluster before landing: repartitionByRange + in-partition
    sort gives each output file a narrow, mostly-disjoint value range on
    the cluster keys, which is what makes the manifest's min/max stats
    selective (random placement makes every file's range span the whole
    domain and skipping prunes nothing).  The linear-order analogue of
    Z-ordering, right for single-key and prefix predicates — use
    ``z_order`` when predicates hit the non-leading column too.
    ``target_files`` pins the output file count (one per partition);
    default lets Spark/AQE size partitions to data volume."""
    if not cluster_by:
        return df
    cols = list(cluster_by)
    if target_files:
        df = df.repartitionByRange(target_files, *cols)
    else:
        df = df.repartitionByRange(*cols)
    return df.sortWithinPartitions(*cols)


def _zvalue(df: DataFrame, cols, bits: int = 16):
    """Z-order key for 2+ columns: rank-normalize each column to a
    ``bits``-bit integer (percent_rank is distribution-free — skewed or
    categorical-ish columns still spread over the full grid), then
    bit-interleave.  Rows close in z are close in EVERY clustered
    column, so each output file covers a small hyper-rectangle and
    min/max skipping works for predicates on ANY of the columns — the
    property linear sort only gives its leading key.  One window pass
    per column (rank shuffle) + a foldable bit expression."""
    from pyspark.sql import Window, functions as F

    scaled = []
    for c in cols:
        r = F.percent_rank().over(Window.orderBy(F.col(c)))
        scaled.append(
            F.least(
                (r * (1 << bits)).cast("long"), F.lit((1 << bits) - 1)
            )
        )
    z = F.lit(0).cast("long")
    n = len(cols)
    for bit in range(bits):
        for j, sc in enumerate(scaled):
            z = z + (
                F.shiftleft(
                    F.shiftrightunsigned(sc, bit).bitwiseAND(F.lit(1)),
                    bit * n + j,
                )
            )
    return z


def z_order(
    df: DataFrame, cols, target_files: int, bits: int = 16
) -> DataFrame:
    """Multi-column clustering for commits: sort by the interleaved
    z-value so file-level min/max stats prune on any clustered column.
    NOTE the rank windows are unpartitioned (single-task sort per
    column) — fine for the per-commit batches this clusters; a full
    100 TB table rewrite should approximate ranks from a sample
    (``approxQuantile``-style binning) instead of exact percent_rank.
    Pass the result to ``append``/``overwrite`` WITHOUT ``cluster_by``
    (the z-sort already determines placement)."""
    zc = _zvalue(df, list(cols), bits).alias("__z")
    out = df.select("*", zc)
    return (
        out.repartitionByRange(target_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def _write_data_files(
    df: DataFrame, path: str
) -> tuple[list[str], int, dict[str, dict]]:
    """Land the DataFrame as new immutable parquet files under a unique
    commit subdirectory of data/ (so concurrent writers never collide on
    file names), returning (relative file names, row count, per-file
    footer stats for manifest-level skipping).  Row counts come from
    the same footers — no data is re-read."""
    commit_id = uuid.uuid4().hex[:12]
    out = os.path.join(_data_dir(path), commit_id)
    df.write.mode("error").parquet(out)
    files = sorted(
        os.path.join("data", commit_id, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    return _with_footer_stats(path, files)


def _with_footer_stats(
    path: str, files: list[str]
) -> tuple[list[str], int, dict[str, dict]]:
    """(files, row count, per-file footer stats) for freshly landed
    files.  Footer reads are tiny but driver-side; a thousand-file
    commit should not serialize a thousand metadata round-trips."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as ex:
        stat_list = list(
            ex.map(lambda f: _file_stats(os.path.join(path, f)), files)
        )
    stats = dict(zip(files, stat_list))
    return files, sum(s["rows"] for s in stats.values()), stats


class SchemaEvolutionError(ValueError):
    """An append's schema would change (or cannot merge into) the
    table's declared schema and the caller didn't opt into evolution."""


# widenings the parquet scan can apply losslessly when handed the
# declared (wider) schema — verified on Spark 4.1's vectorized reader:
# int32 files read as bigint, float files as double, absent columns
# backfill NULL (SPARK-40876 read-side type widening)
_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def _widens(old_dt, new_dt) -> bool:
    return (old_dt.typeName(), new_dt.typeName()) in _WIDENINGS


def _nullable_json_schema(df: DataFrame) -> dict:
    """``df``'s schema as a manifest-storable jsonValue dict, every
    field forced nullable: later commits may legally backfill NULLs
    into any column (add-column evolution), so the declared schema
    never promises non-null."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True) for f in df.schema.fields]
    ).jsonValue()


def _merge_schemas(declared, incoming):
    """Widen-merge two StructTypes: declared columns keep their
    position; incoming-only columns append (nullable); a column typed
    differently on the two sides resolves to the wider type when the
    pair is in ``_WIDENINGS`` and raises otherwise."""
    from pyspark.sql.types import StructField, StructType

    out = {f.name: StructField(f.name, f.dataType, True)
           for f in declared.fields}
    order = [f.name for f in declared.fields]
    for f in incoming.fields:
        cur = out.get(f.name)
        if cur is None:
            out[f.name] = StructField(f.name, f.dataType, True)
            order.append(f.name)
        elif cur.dataType == f.dataType or _widens(f.dataType, cur.dataType):
            continue  # identical, or incoming is the narrower side
        elif _widens(cur.dataType, f.dataType):
            out[f.name] = StructField(f.name, f.dataType, True)
        else:
            raise SchemaEvolutionError(
                f"column {f.name!r}: cannot evolve "
                f"{cur.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} (supported: add nullable "
                "column; widen byte/short/int -> long, float -> double)"
            )
    return StructType([out[n] for n in order])


def _resolve_declared(
    base_schema: dict | None,
    incoming: dict | None,
    evolve: bool,
    base_has_files: bool = False,
) -> dict | None:
    """Declared schema for the next version.  No incoming schema →
    carry the base's forward.  No base declaration: adopt the incoming
    one ONLY when the table holds no files yet — a LEGACY table
    (pre-r13 manifests, data on disk) stays schema-less rather than
    letting the first post-upgrade append's schema silently become the
    declaration every legacy file is then read through (r13 review: a
    subset-schema append would make the missing columns unreachable);
    legacy tables upgrade explicitly via ``overwrite`` (which resets
    the declaration) and keep the ``merge_schema`` read path
    meanwhile.  Otherwise widen-merge, and if the merge actually
    CHANGES the declared schema require ``evolve=True`` (a
    narrower/subset write is not a change)."""
    from pyspark.sql.types import StructType

    if incoming is None:
        return base_schema
    if base_schema is None:
        return None if base_has_files else incoming
    if base_schema == incoming:
        return base_schema
    merged = _merge_schemas(
        StructType.fromJson(base_schema), StructType.fromJson(incoming)
    ).jsonValue()
    if merged == base_schema:
        return base_schema
    if not evolve:
        raise SchemaEvolutionError(
            "incoming schema differs from the table's declared schema; "
            "pass evolve=True to widen-merge it (add nullable column, "
            "byte/short/int -> long, float -> double)"
        )
    return merged


def append(
    df: DataFrame,
    path: str,
    max_retries: int = 5,
    meta: dict | None = None,
    cluster_by=None,
    target_files: int | None = None,
    evolve: bool = False,
) -> Snapshot:
    """Transactional append.  Data files land first (expensive,
    conflict-free); the commit loop then retries only the cheap
    manifest create — appends never logically conflict, so losing a
    race just means re-publishing on top of the new latest version.

    Schema: the committed manifest records the table's DECLARED schema
    (the merge of every append's schema).  An append whose schema is a
    subset / narrower view of the declared one commits as-is (its
    files NULL-backfill / widen on read); one that would CHANGE the
    declared schema (new column, int→long or float→double widening)
    requires ``evolve=True`` and raises ``SchemaEvolutionError``
    otherwise — evolution is an explicit, auditable act, never a typo
    side-effect.  Incompatible changes (string→int, dropped-and-
    retyped columns) always raise."""
    files, rows, stats = _write_data_files(
        _cluster(df, cluster_by, target_files), path
    )
    return commit_append(
        path, files, rows, stats=stats, meta=meta, max_retries=max_retries,
        schema=_nullable_json_schema(df), evolve=evolve,
    )


def commit_append(
    path: str,
    files,
    rows: int,
    stats: dict | None = None,
    meta: dict | None = None,
    max_retries: int = 5,
    schema: dict | None = None,
    evolve: bool = False,
) -> Snapshot:
    """The append COMMIT loop alone, data files already landed:
    read latest → publish next version → on ``CommitConflict`` rebase
    on the winner's snapshot and retry.  Factored out of ``append`` so
    the cross-process race test (tests/test_txn_race.py) can drive the
    REAL production retry loop from plain processes without a Spark
    session per process — the BigQuery-transactionality parity check
    vs /root/reference/main.py:268-287 (multi-writer contention is the
    one guarantee the warehouse gave the reference for free).

    ``schema`` is the incoming data's schema (``StructType.jsonValue``
    dict) or None for schema-less commit paths (e.g. sink replays of
    pre-landed files — they carry the declared schema forward).  The
    declared-schema resolution runs INSIDE the retry loop: a rebase
    re-merges against the race winner's declared schema, so two
    writers evolving concurrently compose instead of clobbering."""

    def attempt(base: Snapshot) -> Snapshot:
        return _commit(
            path, base, base.files, files, stats or {}, "append", meta,
            _resolve_declared(base.schema, schema, evolve, bool(base.files)),
            rows=base.rows + rows,
        )

    return _with_retries("append", path, max_retries, attempt)


def overwrite(
    df: DataFrame,
    path: str,
    expected_version: int | None = None,
    meta: dict | None = None,
    cluster_by=None,
    target_files: int | None = None,
) -> Snapshot:
    """Transactional replace.  Unlike append, an overwrite racing
    another writer IS a logical conflict (it would silently drop their
    commit), so it never auto-retries: it commits exactly against
    ``expected_version`` (default: latest at call time) and raises
    ``CommitConflict`` if anyone committed in between — the caller
    decides whether re-applying is sound.  Old versions remain
    readable; no files are deleted."""
    base = snapshot(path, expected_version)
    files, _, stats = _write_data_files(
        _cluster(df, cluster_by, target_files), path
    )
    return _commit(
        path, base, (), files, stats, "overwrite", meta,
        _nullable_json_schema(df),  # replace semantics: schema resets too
    )


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Snapshot read: scan exactly the manifest's files.  ``version``
    pins time travel; default is the latest commit at call time.

    When the manifest carries a DECLARED schema (every table written
    since r13), the scan is handed that schema explicitly: ONE
    distributed parquet scan, zero planning I/O, with files that
    physically lag the declaration read through it — absent columns
    NULL-backfill and narrower ints/floats widen (measured on the 4.1
    vectorized reader; pinned in tests/test_txn_table.py).  That makes
    every read — including time travel across an evolution boundary —
    schema-stable, and an empty version returns a true empty DataFrame
    instead of failing inference.

    ``merge_schema=True`` is an explicit OVERRIDE of the declared
    path: union the physical file schemas instead (parquet
    mergeSchema — pays one footer read per file at planning).  Use it
    on pre-r13 manifests with mixed file schemas, or to surface
    columns landed by a schema-less ``commit_append`` beyond the
    declaration (the declared scan cannot see them by design; note
    mergeSchema FAILS on int/long-mixed files, which only the
    declared path can widen)."""
    from pyspark.sql.types import StructType

    snap = snapshot(path, version)
    if snap.schema is not None and not merge_schema:
        declared = StructType.fromJson(snap.schema)
        if not snap.files:
            return spark.createDataFrame([], declared)
        return spark.read.schema(declared).parquet(
            *[os.path.join(path, f) for f in snap.files]
        )
    if not snap.files:
        raise ValueError(
            f"version {snap.version} of {path} is empty — no schema to infer"
        )
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[os.path.join(path, f) for f in snap.files])


def _read_files(spark: SparkSession, path: str, files, snap: Snapshot):
    """Scan a SUBSET of a snapshot's files THROUGH its declared schema
    when one exists.  Every internal rewrite (delete / merge /
    straddler re-land) must read this way: a raw ``spark.read.parquet``
    over mixed-generation files resolves to an arbitrary file's
    physical schema and silently DROPS evolved columns from the
    rewritten rows (caught by
    test_declared_schema_survives_row_level_ops)."""
    from pyspark.sql.types import StructType

    paths = [os.path.join(path, f) for f in files]
    if snap.schema is not None:
        return spark.read.schema(
            StructType.fromJson(snap.schema)
        ).parquet(*paths)
    return spark.read.parquet(*paths)


def version_at(path: str, timestamp) -> int:
    """Resolve a commit TIMESTAMP to a version: the latest version
    whose ``committed_at`` is <= ``timestamp`` (unix-seconds float, or
    a datetime — naive datetimes are driver-local, the same convention
    ``time.time`` records).  O(versions-on-disk) tiny manifest reads;
    raises if the table didn't exist yet at that time."""
    if hasattr(timestamp, "timestamp"):
        ts = timestamp.timestamp()
    else:
        ts = float(timestamp)
    best = None
    for v in versions(path):
        if snapshot(path, v).committed_at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version of {path} committed at or before {timestamp}"
        )
    return best


def read_at(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
) -> DataFrame:
    """Time-travel read — exactly one of ``version`` / ``timestamp``.
    Snapshot isolation by construction: the returned plan scans
    exactly the files version N's manifest names, all immutable, so a
    writer committing N+1 (or a vacuum keeping N) can never change
    what this reader sees — pinned by a cross-process test in
    tests/test_txn_race.py and a reader-vs-writer test in
    tests/test_txn_table.py.  The read goes through the version's OWN
    declared schema, so travelling back across a schema-evolution
    boundary returns the columns/types as they were declared THEN."""
    if (version is None) == (timestamp is None):
        raise ValueError("read_at: pass exactly one of version / timestamp")
    v = version if version is not None else version_at(path, timestamp)
    return read(spark, path, version=v)


def read_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Manifest-level file skipping + exact residual filter: scan only
    files whose footer [min, max] for ``col`` overlaps [lo, hi], then
    apply the predicate exactly.  This is the move that matters at
    100 TB: Spark's own row-group pruning still has to OPEN every file
    and read its footer, while manifest stats skip files without any
    I/O at all — planning cost is O(manifest), not O(files-opened).
    Files with no recorded stats for ``col`` are conservatively kept.
    Result equals ``read(...).filter(...)`` by construction (asserted
    in tests)."""
    from pyspark.sql import functions as F

    snap = snapshot(path, version)
    keep = _overlapping(snap, col, lo, hi)
    if not keep:
        # all files skipped: empty result with the table's real schema
        base = read(spark, path, version=snap.version)
        return base.filter(F.lit(False))
    df = _read_files(spark, path, keep, snap)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    return df.filter(pred)


def _overlapping(snap: Snapshot, col: str, lo, hi) -> list[str]:
    """Files whose recorded [min, max] for ``col`` may intersect
    [lo, hi]; files without stats are conservatively included.

    The caller's lo/hi pass through ``_enc_stat`` first: recorded
    stats live in the canonical encoding (UTC-naive ISO strings for
    timestamps, plain values otherwise), so a raw ``datetime`` bound
    would compare str-vs-datetime (TypeError) — or, under a non-UTC
    driver TZ, compare shifted wall times and silently skip files
    that contain matching rows (r10 self-review #1: the write-side
    seam got the canonicalization in r10's partition-overwrite fix,
    the query-side seam here did not)."""
    lo_e = _enc_stat(lo) if lo is not None else None
    hi_e = _enc_stat(hi) if hi is not None else None

    def overlaps(f: str) -> bool:
        st = snap.file_stats.get(f, {}).get("cols", {}).get(col)
        if st is None:
            return True
        fmin, fmax = st
        if lo_e is not None and fmax < lo_e:
            return False
        if hi_e is not None and fmin > hi_e:
            return False
        return True

    return [f for f in snap.files if overlaps(f)]


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str,
    prune_col: str | None = None,
    lo=None,
    hi=None,
    expected_version: int | None = None,
) -> Snapshot:
    """Copy-on-write row-level DELETE: rewrite ONLY the files that can
    contain matching rows (manifest-stats pruned via ``prune_col``
    bounds when given), keep every other file by reference, and commit
    the new file list as one atomic manifest — the Delta/Iceberg
    copy-on-write shape.  At 100 TB a delete touching one day rewrites
    that day's files, not the table.  Old versions still see the
    deleted rows (time travel); overwrite-style conflict semantics
    (raises rather than clobbering a racing commit)."""
    from pyspark.sql import functions as F

    snap = snapshot(path, expected_version)
    targets = (
        _overlapping(snap, prune_col, lo, hi)
        if prune_col is not None
        else list(snap.files)
    )
    untouched = [f for f in snap.files if f not in set(targets)]
    new_files: list[str] = []
    new_stats: dict[str, dict] = {}
    if targets:
        kept_rows = _read_files(spark, path, targets, snap).filter(
            ~F.expr(condition)
        )
        new_files, _, new_stats = _write_data_files(kept_rows, path)
    return _commit(
        path, snap, untouched, new_files, new_stats, "delete",
        {"condition": condition},
        snap.schema,  # row-level ops never change the declared schema
    )


def _write_partition_aligned(
    df: DataFrame, path: str, part_col: str
) -> tuple[list[str], int, dict[str, dict]]:
    """Land ``df`` as immutable files each holding EXACTLY ONE value of
    ``part_col`` (min == max in its footer stats) — the layout
    ``overwrite_partitions`` needs so a later partition replace can
    drop whole files instead of rewriting straddlers.

    One distributed job: the writer partitions by a DUPLICATE of the
    partition column (``__pp``), so the real column stays inside the
    data files; the hive-style ``__pp=v/`` directories are then
    flattened driver-side (k cheap same-filesystem renames) because
    manifest readers scan files BY NAME and must never trip Spark's
    partition-discovery on shared ``key=value`` parent dirs.

    Filesystem portability: the flatten runs through the table's
    ``TableFilesystem`` seam (list / move / remove — the sibling of
    the ``CommitStrategy`` commit seam), POSIX rename by default and
    object-store copy+delete via ``CopyDeleteFilesystem``.  The moves
    need no atomicity: every file here is pre-manifest (readers can
    only see files a committed manifest names), so a torn move leaks
    an unreferenced orphan at worst — vacuum fodder, never a
    correctness issue.  Pinned with the full commit+flatten object-
    store pairing in tests/test_txn_table.py (r10 verdict #4).

    Timestamp partition columns: Spark's default parquet encoding for
    TimestampType is INT96, whose (deprecated) stats pyarrow ignores —
    landed files would carry NO min/max for the partition column and
    every later replace would straddle-rewrite the whole table.  When
    ``part_col`` is timestamp-typed, the write is scoped to
    TIMESTAMP_MICROS so its footer stats exist and classify.  The
    session-conf toggle here is benign to concurrent writers (unlike
    an overwrite-MODE toggle): both encodings losslessly hold Spark's
    micros-precision timestamps and read back identically — a racer
    that observes MICROS instead of INT96 produces equally-correct
    files."""
    from pyspark.sql import functions as F

    commit_id = uuid.uuid4().hex[:12]
    out = os.path.join(_data_dir(path), commit_id)
    writer = (
        df.withColumn("__pp", F.col(part_col))
        .write.mode("error")
        .partitionBy("__pp")
    )
    ts_key = "spark.sql.parquet.outputTimestampType"
    part_is_ts = any(
        f.name == part_col and f.dataType.typeName().startswith("timestamp")
        for f in df.schema.fields
    )
    with scoped_conf(
        df.sparkSession, {ts_key: "TIMESTAMP_MICROS"} if part_is_ts else {}
    ):
        writer.parquet(out)
    fs = _fs_for(path)
    files: list[str] = []
    for sub in sorted(fs.listdir(out)):
        subdir = os.path.join(out, sub)
        if not (fs.is_dir(subdir) and sub.startswith("__pp=")):
            continue
        for f in sorted(fs.listdir(subdir)):
            if not f.endswith(".parquet"):
                continue
            flat = f"{len(files)}_{f}"
            fs.move(os.path.join(subdir, f), os.path.join(out, flat))
            files.append(os.path.join("data", commit_id, flat))
        # leftovers are committer artifacts (.crc checksums, _SUCCESS);
        # the moved files no longer match their crc names anyway
        fs.rmtree(subdir)
    return _with_footer_stats(path, files)


def _classify_partition_files(
    snap: Snapshot, part_col: str, replaced: set
) -> tuple[list[str], list[str], list[str]]:
    """Split a snapshot's files by their footer stats for ``part_col``
    against the replaced-value set: (keep, drop, straddle).

    * keep — [min, max] cannot contain any replaced value (NULL rows,
      which stats exclude, are never replaced — a kept file keeps
      them untouched);
    * drop — single-valued (min == max) on a replaced value AND
      provably NULL-free in the partition column: the whole file IS a
      replaced partition (parquet min/max exclude nulls, so without
      the null-count proof a 'single-valued' file could still hide
      NULL rows that dropping would destroy);
    * straddle — overlaps a replaced value but is not single-valued,
      carries no/unknown stats, or may contain NULL rows: must be
      rewritten with replaced rows filtered out (NULL-preserving), or
      the commit would drop live rows.

    Replaced values are compared through ``_enc_stat`` so typed
    date/timestamp/bytes partition columns meet their footer-string
    encodings in one order-preserving domain."""
    replaced_enc = {_enc_stat(v) for v in replaced}
    keep: list[str] = []
    drop: list[str] = []
    straddle: list[str] = []
    for f in snap.files:
        meta = snap.file_stats.get(f, {})
        st = meta.get("cols", {}).get(part_col)
        if st is None:
            straddle.append(f)
            continue
        fmin, fmax = st
        try:
            hit = any(fmin <= v <= fmax for v in replaced_enc)
        except TypeError:
            # stats type and replaced-value type don't compare even
            # after canonical encoding: conservatively rewrite
            straddle.append(f)
            continue
        n_null = meta.get("nulls", {}).get(part_col, -1)
        if not hit:
            keep.append(f)
        elif fmin == fmax and n_null == 0:
            drop.append(f)
        else:
            straddle.append(f)
    return keep, drop, straddle


def commit_overwrite_partitions(
    path: str,
    part_col: str,
    replaced,
    new_files,
    new_stats: dict,
    meta: dict | None = None,
    max_retries: int = 5,
) -> Snapshot:
    """Commit loop for a dynamic partition overwrite, data already
    landed: every base file wholly inside the replaced partition set is
    dropped, every file that cannot contain a replaced value is kept BY
    REFERENCE (byte-identical — never rewritten, never copied), and the
    new files are added.

    Unlike full ``overwrite``, losing a race here is NOT automatically
    a logical conflict: the replaced set names exactly which partitions
    this commit owns, so a retry RE-CLASSIFIES against the winner's
    snapshot — two writers replacing DISJOINT partitions both land,
    in either order (the disjointness proof is the classification
    itself: re-derived per attempt, the loser keeps the winner's new
    files because they sit outside its replaced set).  A base file that
    STRADDLES replaced and live values raises instead — this
    manifest-only loop cannot rewrite data; use
    ``overwrite_partitions``, which filters straddlers with Spark
    before retrying."""
    replaced = set(replaced)

    def attempt(base: Snapshot) -> Snapshot:
        straddle = _classify_partition_files(base, part_col, replaced)[2]
        if straddle:
            raise ValueError(
                f"{len(straddle)} base file(s) straddle replaced "
                f"partitions of {part_col} (e.g. {straddle[0]}); use "
                "overwrite_partitions() to rewrite them"
            )
        return _commit_partition_replace(
            path, base, part_col, replaced, new_files, new_stats, meta
        )

    return _with_retries("overwrite_partitions", path, max_retries, attempt)


def overwrite_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    part_col: str,
    max_retries: int = 5,
    meta: dict | None = None,
    evolve: bool = False,
) -> Snapshot:
    """Transactional dynamic partition overwrite (replace-where): the
    partitions PRESENT in ``df`` are replaced by ``df``'s rows; every
    other partition's files are carried into the new version untouched
    and byte-identical.  The 100 TB merge-path answer promised at
    operators/merge.py: an upsert touching k partitions rewrites k
    partitions, never the table.

    Steps: (1) one tiny distinct-aggregate collects the replaced
    partition values (bounded by the number of partitions touched — a
    daily upsert touches days, not rows); (2) the new data lands
    partition-aligned (one job; each file single-valued on
    ``part_col``); (3) the commit loop drops replaced files, keeps the
    rest by reference, and rebases on conflict.  Legacy base files that
    straddle the replaced set (written before this layout) are
    rewritten once here — filtered to their live rows and re-landed
    aligned — after which they never straddle again.

    Schema: ``df`` is validated against the declared schema BEFORE
    landing (same gate as ``append``/``merge_into`` — an ungated
    replace would commit divergent files the declared scan silently
    truncates or cannot read, r13 review); widening/adding columns
    requires ``evolve=True`` and re-resolves on every rebase."""
    from pyspark.sql import functions as F

    values = [
        r[0] for r in df.select(part_col).distinct().collect()
    ]  # bounded: one value per touched partition
    if any(v is None for v in values):
        # NULL has no total order against file stats and no stable
        # directory identity; partition columns must be non-NULL
        # (derive a sentinel value upstream, as hive layouts do)
        raise ValueError(
            f"overwrite_partitions: NULL value in partition column "
            f"{part_col!r} — partition columns must be non-NULL"
        )
    if not values:
        return snapshot(path)
    incoming = _nullable_json_schema(df)
    # fail-fast validation against the CURRENT declaration before the
    # (expensive) aligned landing; re-resolved per commit attempt below
    _resolve_declared(
        snapshot(path).schema, incoming, evolve,
        bool(snapshot(path).files),
    )
    new_files, _, new_stats = _write_partition_aligned(df, path, part_col)

    def attempt(base: Snapshot) -> Snapshot:
        straddle = _classify_partition_files(base, part_col, set(values))[2]
        extra_files: list[str] = []
        extra_stats: dict[str, dict] = {}
        if straddle:
            # NULL-preserving residual: isin(NULL) is NULL (falsy), so
            # a bare negation would DELETE legacy NULL-partition rows —
            # keep a row when it is NULL or provably not replaced
            live = _read_files(spark, path, straddle, base).filter(
                F.col(part_col).isNull() | ~F.col(part_col).isin(values)
            )
            extra_files, _, extra_stats = _write_partition_aligned(
                live, path, part_col
            )
            # straddlers' replaced rows are superseded by df; their
            # live rows now exist re-landed aligned, so the commit
            # below drops the straddlers (they classify as straddle
            # against the SAME pinned base and are excluded from keep).
        return _commit_partition_replace(
            path,
            base,
            part_col,
            set(values),
            list(new_files) + extra_files,
            {**new_stats, **extra_stats},
            meta,
            declared=_resolve_declared(
                base.schema, incoming, evolve, bool(base.files)
            ),
        )

    return _with_retries("overwrite_partitions", path, max_retries, attempt)


def _commit_partition_replace(
    path: str,
    base: Snapshot,
    part_col: str,
    replaced: set,
    new_files,
    new_stats: dict,
    meta: dict | None,
    declared: dict | None = None,
) -> Snapshot:
    """Single manifest-create attempt for both partition replacers.
    Classification, any straddler rewrite, and this commit are all
    pinned to ONE base version; ``_publish``'s compare-and-swap on
    ``base.version + 1`` rejects the attempt if ANY commit interleaved,
    so a stale rewrite can never resurrect rows a racing writer
    replaced — the caller's retry re-reads, re-classifies, and re-lands
    from scratch (orphaned data files are immutable and vacuumable).
    Only the files that cannot hold a replaced value are carried.
    ``declared`` is the caller-resolved declared schema for the new
    version (None = carry the base's forward — the schema-less
    pre-landed-files path, same contract as ``commit_append``)."""
    keep = _classify_partition_files(base, part_col, replaced)[0]
    return _commit(
        path, base, keep, new_files, new_stats, "overwrite_partitions",
        {
            "partition_col": part_col,
            "replaced": sorted(str(v) for v in replaced),
            **(meta or {}),
        },
        declared if declared is not None else base.schema,
    )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str | list[str],
    update_cols: list[str],
    insert: bool = True,
    expected_version: int | None = None,
    evolve: bool = False,
    meta: dict | None = None,
) -> Snapshot:
    """Transactional MERGE INTO (the Delta/Iceberg copy-on-write MERGE
    shape): update ``update_cols`` of rows whose ``key`` matches a
    source row, optionally insert unmatched source rows, commit as ONE
    atomic manifest.

    Copy-on-write is range-pruned when ``key`` is a single column: the
    source's [min, max] of the key — two values, computed in one tiny
    aggregate — selects only base files whose footer range overlaps;
    every other file is carried into the new version BY REFERENCE,
    unrewritten.  Pruning is sound for the insert leg too: a file
    skipped by the stats cannot contain any source key, so match
    detection over the touched files alone is exact.  One interval
    carries a file only when the source keys are range-local (a day's
    keys in a key-ordered table); scattered keys span every file and
    rewrite them all.  A source with no non-NULL key (empty, or NULL
    keys only) matches no base row, so every base file is carried; it
    lands only its rows, if any, and only with ``insert``.  A
    composite key is not pruned.  Overwrite-style conflict semantics
    (raises on a racing commit rather than clobbering it); ``meta``
    rides the manifest (e.g. a streaming sink's batch id).

    Schema: the OUTPUT schema is validated against the declared one
    BEFORE any file lands — a source whose update column is wider
    (e.g. long into a declared int) would otherwise commit files the
    declared scan can no longer read, with no error until read time
    (r13 review).  A widening merge requires ``evolve=True`` (same
    lattice and same explicitness as ``append``) and then records the
    widened declaration."""
    from pyspark.sql import functions as F

    snap = snapshot(path, expected_version)
    keys = [key] if isinstance(key, str) else list(key)
    targets = list(snap.files)
    has_rows = True
    if len(keys) == 1 and targets:
        bounds = source.agg(
            F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        has_rows = bounds["n"] > 0
        # no non-NULL source key (empty source, or NULL keys only): no
        # base row can match, so no base file is a target
        targets = (
            [] if bounds["lo"] is None
            else _overlapping(snap, keys[0], bounds["lo"], bounds["hi"])
        )
    untouched = [f for f in snap.files if f not in set(targets)]

    from play_bq_gcp_spark.operators.merge import (
        merge_insert_and_upsert,
        merge_upsert,
    )

    landed: DataFrame | None = None
    if targets:
        touched = _read_files(spark, path, targets, snap)
        landed = (
            merge_insert_and_upsert(touched, source, key, update_cols)
            if insert
            else merge_upsert(touched, source, key, update_cols)
        )
    elif insert and has_rows:
        # no base file can match any source key: pure insert commit
        landed = source
    declared = snap.schema
    new_files: list[str] = []
    new_stats: dict[str, dict] = {}
    if landed is not None:
        # validate the OUTPUT schema before any data lands (fail fast,
        # zero orphan files on refusal)
        declared = _resolve_declared(
            snap.schema, _nullable_json_schema(landed), evolve,
            bool(snap.files),
        )
        new_files, _, new_stats = _write_data_files(landed, path)
    return _commit(
        path, snap, untouched, new_files, new_stats, "merge",
        {"keys": keys, **(meta or {})}, declared,
    )


def changes(
    spark: SparkSession, path: str, v_from: int, v_to: int
) -> DataFrame:
    """File-granularity change data feed between two committed
    versions: rows in files ADDED between ``v_from`` and ``v_to`` tag
    ``_change_type='insert'``, rows in files REMOVED tag ``'delete'``.

    For append-only history this reads ONLY the added files — O(changed
    data), never a table diff — which is what lets a downstream
    incremental job follow a 100 TB table by reading each day's commit.
    Rewrites (delete_where / compact / merge) surface rewritten rows as
    delete+insert pairs: the honest file-level feed of a format without
    row-id tracking.  Invariant (tested): applying the feed to
    ``v_from`` reproduces ``v_to`` exactly as a multiset."""
    from pyspark.sql import functions as F

    a, b = snapshot(path, v_from), snapshot(path, v_to)
    added = [f for f in b.files if f not in set(a.files)]
    removed = [f for f in a.files if f not in set(b.files)]
    base = read(spark, path, version=v_to if b.files else v_from)
    out = base.filter(F.lit(False)).withColumn(
        "_change_type", F.lit("")
    )
    if added:
        out = out.unionByName(
            _read_files(spark, path, added, b)
            .withColumn("_change_type", F.lit("insert"))
        )
    if removed:
        # removed files belong to the FROM snapshot's generation; its
        # declared schema may be narrower than v_to's — align by name
        # with NULL fill so the feed unions across an evolution
        out = out.unionByName(
            _read_files(spark, path, removed, a)
            .withColumn("_change_type", F.lit("delete")),
            allowMissingColumns=True,
        )
    return out


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    cluster_by=None,
    expected_version: int | None = None,
) -> Snapshot:
    """Bin-pack the table's files (the OPTIMIZE maintenance action):
    rewrite the current snapshot into ``target_files`` files —
    optionally range-clustered so the rewrite also tightens stats —
    and commit the identical DATA as a new version.  Many-small-files
    is the classic failure mode of streaming appends; compaction keeps
    scan planning O(target) without blocking readers (old versions
    remain intact until vacuum).

    Interaction with ``overwrite_partitions`` layouts: compacted files
    mix partition values, so the next partition replace classifies
    them as straddlers and rewrites them once (correct, just a
    one-time extra rewrite).  To compact WITHOUT losing partition
    alignment, pass ``cluster_by=[partition_col]`` with
    ``target_files >= number of partitions`` — range clustering puts
    each partition's rows in contiguous files and most land
    single-valued again."""
    snap0 = snapshot(path, expected_version)
    if snap0.files:
        df = _read_files(spark, path, snap0.files, snap0)
    elif snap0.schema is not None:
        from pyspark.sql.types import StructType

        df = spark.createDataFrame([], StructType.fromJson(snap0.schema))
    else:
        raise ValueError(
            f"version {snap0.version} of {path} is empty — nothing to compact"
        )
    df = (
        _cluster(df, cluster_by, target_files)
        if cluster_by
        else df.coalesce(target_files)
    )
    files, _, stats = _write_data_files(df, path)
    return _commit(path, snap0, (), files, stats, "compact", {}, snap0.schema)


def restore(path: str, version: int, max_retries: int = 5) -> Snapshot:
    """Roll the table BACK to an old version as a NEW commit (the
    Delta/Iceberg RESTORE shape): the latest manifest becomes a copy
    of version N's file list, row count, stats, and DECLARED SCHEMA —
    manifest-only, zero data movement, and history is preserved (the
    rolled-past versions stay readable until vacuum).  Restoring
    across a schema-evolution boundary restores the old declaration
    too: the table reads as it did THEN.  Append-style retry
    semantics — a racing append just moves the version the restore
    lands on; the restored CONTENT is pinned to ``version``
    regardless."""
    src = snapshot(path, version)  # raises if vacuumed away

    def attempt(base: Snapshot) -> Snapshot:
        # version N's files re-enter as added files, with N's own stats
        return _commit(
            path, base, (), src.files, src.file_stats, "restore",
            {"restored_from": version}, src.schema, rows=src.rows,
        )

    return _with_retries("restore", path, max_retries, attempt)


def versions(path: str) -> list[int]:
    """All committed version numbers still on disk, ascending (older
    manifests may have been dropped by vacuum)."""
    return sorted(
        int(f[1:11])
        for f in os.listdir(_versions_dir(path))
        if f.startswith("v") and f.endswith(".json")
    )


def history(path: str) -> list[Snapshot]:
    """All still-present committed snapshots, oldest first."""
    return [snapshot(path, v) for v in versions(path)]


def vacuum(path: str, keep_versions: int = 1) -> list[str]:
    """Delete data files unreferenced by the ``keep_versions`` newest
    manifests (and drop the older manifests).  The only destructive
    operation, deliberately separate from the write path — run it when
    no reader can still hold a pinned old version (the same contract as
    any lakehouse vacuum/expire-snapshots)."""
    latest = current_version(path)
    cutoff = max(0, latest - keep_versions + 1)
    keep_files: set[str] = set()
    for v in range(cutoff, latest + 1):
        try:
            keep_files.update(snapshot(path, v).files)
        except FileNotFoundError:
            # A PREVIOUS vacuum with a tighter retention already
            # deleted this manifest; a later, looser keep_versions may
            # legitimately reach below that horizon (found by
            # tools/fuzz_txn.py seed 402: vacuum(keep=1) then
            # vacuum(keep=3) crashed here).  Nothing to keep from a
            # version that no longer exists — but the LATEST manifest
            # is derived from the directory listing and must be
            # present, so only interior gaps are tolerable.
            if v == latest:
                raise
            continue
    removed: list[str] = []
    dd = _data_dir(path)
    for commit_id in os.listdir(dd):
        sub = os.path.join(dd, commit_id)
        for f in os.listdir(sub):
            rel = os.path.join("data", commit_id, f)
            if rel not in keep_files:
                os.unlink(os.path.join(sub, f))
                removed.append(rel)
        if not os.listdir(sub):
            os.rmdir(sub)
    for v in range(cutoff):
        try:
            os.unlink(_manifest_path(path, v))
        except FileNotFoundError:
            pass
    return removed

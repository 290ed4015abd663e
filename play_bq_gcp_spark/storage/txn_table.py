"""Transactional multi-version table on plain parquet (SURVEY.md §4.3-1).

The reference leans on BigQuery for transactional semantics: its upsert
runs a remote ``UPDATE … FROM`` inside the warehouse's own transaction
(the reference's ``main.py:274-284``), and a mid-run crash can never
expose readers to half-applied state.  THIS module gives the rebuild
that guarantee with the manifest pattern every modern lakehouse format
(Delta, Iceberg, Hudi — all public designs) is built on.  The
reference writes three ways, and so does this module: ``append``,
``overwrite`` (full replace) and ``merge_into`` (the upsert);
``delete_where``, ``compact``, ``restore`` and ``vacuum`` are table
maintenance.

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


_DEFAULT_STRATEGY = PosixExclusiveCreate()
_COMMIT_STRATEGIES: dict[str, CommitStrategy] = {}


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
    commit stays sound on top of a racing one (append, restore); the
    rest (overwrite, merge, delete, compact) commit once and raise."""
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
    non-UTC driver TZ, a shifted wall time — so ``_overlapping``
    would compare a bound against the wrong instant and skip files
    that hold matching rows.  Both sides therefore
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
    stats, plus the footer's exact row count.  JSON-encodable values
    only — bytes/timestamps fall back to ISO/utf-8 strings, and any
    non-encodable stat drops the column (pruning then keeps the file:
    always safe).  Manifests written before NULL counts were dropped
    still carry a ``nulls`` key; nothing reads it."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    ok = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        cols = {}
        for i in range(rg.num_columns):
            c = rg.column(i)
            st = c.statistics
            if st is None or not st.has_min_max:
                continue
            cols[c.path_in_schema] = (st.min, st.max)
        ok = set(cols) if ok is None else (ok & set(cols))
        for name, (lo, hi) in cols.items():
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    stats = {}
    for name in ok or ():
        try:
            pair = [_enc_stat(mins[name]), _enc_stat(maxs[name])]
            json.dumps(pair)
        except (TypeError, ValueError):
            continue
        stats[name] = pair
    return {"rows": md.num_rows, "cols": stats}


def _cluster(df: DataFrame, cluster_by, target_files=None) -> DataFrame:
    """Range-cluster before landing: repartitionByRange + in-partition
    sort gives each output file a narrow, mostly-disjoint value range on
    the cluster keys, which is what makes the manifest's min/max stats
    selective (random placement makes every file's range span the whole
    domain and skipping prunes nothing).  A linear order: it serves
    predicates on the leading key and key prefixes.  ``target_files``
    pins the output file count (one per partition); default lets
    Spark/AQE size partitions to data volume."""
    if not cluster_by:
        return df
    cols = list(cluster_by)
    if target_files:
        df = df.repartitionByRange(target_files, *cols)
    else:
        df = df.repartitionByRange(*cols)
    return df.sortWithinPartitions(*cols)


def _write_data_files(
    df: DataFrame, path: str
) -> tuple[list[str], int, dict[str, dict]]:
    """Land the DataFrame as new immutable parquet files under a unique
    commit subdirectory of data/ (so concurrent writers never collide on
    file names), returning (relative file names, row count, per-file
    footer stats for manifest-level skipping).  Row counts come from
    the same footers — no data is re-read.  Footer reads are tiny but
    driver-side; a thousand-file commit should not serialize a
    thousand metadata round-trips, so they run on a thread pool."""
    from concurrent.futures import ThreadPoolExecutor

    commit_id = uuid.uuid4().hex[:12]
    out = os.path.join(_data_dir(path), commit_id)
    df.write.mode("error").parquet(out)
    files = sorted(
        os.path.join("data", commit_id, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
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


def _overlapping(snap: Snapshot, col: str, lo, hi) -> list[str]:
    """Files whose recorded [min, max] for ``col`` may intersect
    [lo, hi]; files without stats are conservatively included.

    The caller's lo/hi pass through ``_enc_stat`` first: recorded
    stats live in the canonical encoding (UTC-naive ISO strings for
    timestamps, plain values otherwise), so a raw ``datetime`` bound
    would compare str-vs-datetime (TypeError) — or, under a non-UTC
    driver TZ, compare shifted wall times and silently skip files
    that contain matching rows.

    A ``date`` bound fits both column kinds: a DATE column's stats are
    ISO days, a timestamp column's are UTC-naive instants, and Spark
    compares a timestamp with a date at that day's local midnight.  The
    ISO day alone sorts just before its own midnight, so an upper bound
    ``hi = date(2024, 3, 3)`` would skip a file whose min is exactly
    ``2024-03-03T00:00:00``.  So each date bound takes the wider of its
    ISO day and its local midnight through the naive→UTC path: the
    larger one for ``hi``, the smaller one for ``lo`` (east of UTC the
    midnight falls on the previous UTC day).  Wider only keeps more
    files; the residual filter stays exact."""
    import datetime as _dt

    def enc(v, pick):
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            midnight = _dt.datetime.combine(v, _dt.time())
            return pick(_enc_stat(v), _enc_stat(midnight))
        return _enc_stat(v)

    lo_e = enc(lo, min) if lo is not None else None
    hi_e = enc(hi, max) if hi is not None else None

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

    Copy-on-write is range-pruned: the source's [min, max] of every
    key column — computed together in one tiny aggregate — selects
    only base files whose footer ranges overlap on EVERY key column;
    every other file is carried into the new version BY REFERENCE,
    unrewritten.  Pruning is sound for the insert leg too: a file
    skipped by the stats cannot contain any source key, so match
    detection over the touched files alone is exact.  The intervals
    carry a file only when the source keys are range-local (a day's
    keys in a key-ordered table); scattered keys span every file and
    rewrite them all.  A source with a key column that holds no
    non-NULL value (empty, or NULL keys only) matches no base row, so
    every base file is carried; it lands only its rows, if any, and
    only with ``insert``.  Overwrite-style conflict semantics
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
    if targets:
        bounds = source.agg(
            F.count(F.lit(1)),
            *[agg(k) for k in keys for agg in (F.min, F.max)],
        ).first()
        has_rows = bounds[0] > 0
        for i, k in enumerate(keys):
            lo, hi = bounds[1 + 2 * i], bounds[2 + 2 * i]
            # a key column with no non-NULL source value (empty source,
            # or NULL keys only): no base row can match, so no base
            # file is a target
            keep = set() if lo is None else set(_overlapping(snap, k, lo, hi))
            targets = [f for f in targets if f in keep]
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
    remain intact until vacuum).  Overwrite-style conflict semantics: a
    compaction pinned to a base that a racing commit superseded loses
    its compare-and-swap and raises, so it can never drop the racer's
    rows."""
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

"""Table catalog: parquet-backed sources and sinks.

Mirrors the reference's BigQuery table surface (SURVEY.md §2.1 S3-S10)
on partition-friendly parquet: scans get Catalyst column pruning +
predicate pushdown for free; ``overwrite`` is the reference's
WRITE_TRUNCATE / if_exists='replace' disposition.  The warehouse's
appends and replaces are transactional commits (storage/txn_table).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS), which Spark reads only as
# long (via the legacy conf).  We truncate ns→µs deterministically —
# floor truncation can never flip a comparison against whole-second
# literals, and DuckDB's ns→µs python conversion floors identically.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Idempotently enable ``spark.sql.legacy.parquet.nanosAsLong``.

    The conf is runtime-settable and must hold on ANY session that scans
    the events fixture — including bare sessions built outside
    session.get_spark (e.g. an external driver's own
    ``SparkSession.builder.getOrCreate()``).  Setting it only at session
    build broke every events read under such sessions
    (PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS)); setting it here, guarded,
    is both safe (no-op when already true) and driver-proof."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(key, "false") != "true":
        spark.conf.set(key, "true")


def normalize_nanos_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Normalize parquet TIMESTAMP(NANOS) columns to plain TimestampType,
    whatever the runtime decoded them as.  Spark builds differ here:
    older readers surface NANOS only as long (under nanosAsLong) and
    error otherwise; newer 4.x readers decode NANOS natively as
    TIMESTAMP_NTZ (µs-truncated).  Branching on the OBSERVED dtype makes
    every session — ours or an external driver's bare one — converge on
    the same TimestampType values (ns floored to µs, matching DuckDB's
    ns→µs conversion).  The NTZ→timestamp cast is wall-clock-preserving
    under a UTC session timezone (get_spark pins UTC; bare sessions
    inherit the UTC container default)."""
    for c in cols:
        t = df.schema[c].dataType.typeName()
        if t == "long":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


#: Resolved scan per (application, path, fingerprint) — a lazy PLAN
#: handle, never data or results (every action over it recomputes from
#: the parquet files).  ``spark.read.parquet(path)`` re-lists the path
#: and re-reads footers for schema inference on every call — measured
#: 0.05-0.15 s per table read at sf0.1 on a 4-core host, against under
#: 1 ms for a cached hit — and one headline pass makes 38 reads of the
#: same immutable fixture scans (about 2.6 s saved per pass).
#: DataFrames are immutable, so handing the same resolved scan to
#: every caller is safe; the fingerprint invalidates on any rewrite,
#: so fuzz fixtures and re-landed tables never see a stale listing or
#: schema.  One entry per PATH: the insert evicts whatever was there —
#: a superseded fingerprint or a stopped session's handle — so the
#: cache is bounded by the table count, never by session/rewrite
#: history (r13 ADVICE: the dir-mtime-only key was blind to in-place
#: part-file rewrites AND grew without bound).
_SCAN_CACHE: dict[str, tuple[str, float, DataFrame]] = {}


def _scan_fingerprint(path: str) -> float:
    """Freshness fingerprint for a dataset path: the max mtime across
    the path itself and, for directories, every entry below it,
    partition subdirectories included.  A directory mtime changes on
    file create/delete/rename but NOT on an in-place overwrite of an
    existing part file (cp/rsync onto the same filename), at any depth
    — taking the max over all entry mtimes catches that case too.  One
    stat per entry, driver-side, bounded by the table's file count."""
    m = os.path.getmtime(path)
    if os.path.isdir(path):
        with os.scandir(path) as it:
            for e in it:
                t = (
                    _scan_fingerprint(e.path)
                    if e.is_dir(follow_symlinks=False)
                    else e.stat().st_mtime
                )
                if t > m:
                    m = t
    return m


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (S3: projection/pruning left to Catalyst)."""
    ensure_nanos_conf(spark)
    path = table_path(sf_dir, name)
    try:
        app = spark.sparkContext.applicationId
        fp = _scan_fingerprint(path)
    except Exception:
        app = None
    if app is not None:
        cached = _SCAN_CACHE.get(path)
        if cached is not None and cached[0] == app and cached[1] == fp:
            return cached[2]
    df = normalize_nanos_ts(
        spark.read.parquet(path), NANOS_TS_COLS.get(name, ())
    )
    if app is not None:
        # the insert IS the eviction: a superseded fingerprint or a
        # stopped session's handle for this path is replaced, never
        # accumulated
        _SCAN_CACHE[path] = (app, fp, df)
    return df


def _packed_scan_tasks(df: DataFrame, files: list[str]) -> int:
    """Estimate how many scan tasks Spark's file bin-packing will
    produce for ``files`` — FilePartition's own arithmetic:
    ``maxSplit = min(maxPartitionBytes, max(openCost, totalPadded /
    defaultParallelism))`` then ``tasks ≈ totalPadded / maxSplit``
    with every file padded by ``openCostInBytes``.  Local file: URIs
    only (one stat per file, driver-side); anything unparseable
    returns a large number so the caller's count-based short-circuit
    stands (the prior, pre-r9 behavior — never an extra shuffle).

    Driver cost is BOUNDED (r9 review): when the file count alone
    guarantees enough packed tasks (every file pads the accumulator by
    open_cost and a partition holds at most max_partition_bytes of
    padded volume, so tasks >= n_files * open_cost / max_pb regardless
    of sizes), no file is ever stat'ed — a 10^6-file table returns
    immediately; the per-file stat path only runs below
    ~(max_pb/open_cost) x parallelism files (~1024 at defaults)."""
    try:
        conf = df.sparkSession.conf

        def _bytes(key: str, default: int) -> int:
            try:
                v = conf.get(key)
                return int(v.lower().removesuffix("b"))
            except Exception:
                return default

        open_cost = _bytes("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
        max_pb = _bytes(
            "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
        )
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        # a packed partition accumulates at most max_split + open_cost
        # of padded volume (the close check precedes the add), so the
        # sound size-free lower bound divides by (max_pb + open_cost)
        if (
            open_cost > 0
            and len(files) * open_cost
            >= parallelism * (max_pb + open_cost)
        ):
            return (len(files) * open_cost) // max(1, max_pb + open_cost)
        sizes = []
        for f in files:
            if not f.startswith("file:"):
                return 1 << 30
            p = f[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
            sizes.append(os.path.getsize(p))
        total = sum(s + open_cost for s in sizes)
        max_split = max(
            1, min(max_pb, max(open_cost, total // max(1, parallelism)))
        )
        # replicate FilePartition.getFilePartitions' greedy pack: files
        # sorted by length desc, split into <= max_split chunks, a
        # partition closes when the NEXT chunk's length would overflow,
        # and every chunk pads the accumulator by open_cost.
        tasks, cur = 0, 0
        for s in sorted(sizes, reverse=True):
            while True:
                chunk = min(s, max_split)
                if cur + chunk > max_split:
                    tasks += 1
                    cur = 0
                cur += chunk + open_cost
                s -= chunk
                if s <= 0:
                    break
        return tasks + (1 if cur > 0 else 0)
    except Exception:
        return 1 << 30


def spread(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Ensure at least one partition per core before an expensive
    map-side pass (tokenization, featurization, Python workers).  A
    small table often arrives as a single parquet file → one partition
    → one busy core; at real scale inputs already have ≥cores
    partitions and this is a no-op (no shuffle inserted)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiplier
    # Prefer the public file-count metadata over df.rdd.getNumPartitions():
    # .rdd builds a pickled-row conversion RDD just to read one number
    # (and does not exist under Spark Connect).  File COUNT alone is
    # not sufficient: the scan bin-packs small files
    # (maxPartitionBytes/openCostInBytes), so 64 tiny files can still
    # collapse to a handful of tasks — estimate the packed task count
    # with FilePartition's own arithmetic and only short-circuit when
    # it clears the target (ADVICE r8: count-only check skipped
    # repartition in exactly the many-tiny-files case spread() exists
    # for).  For non-file plans (memory fixtures, streams) fall back to
    # the RDD metadata probe rather than an unconditional shuffle.
    files = df.inputFiles()
    if len(files) >= target and _packed_scan_tasks(df, files) >= target:
        return df
    # Few/no files can still mean wide scans (one 10 GB file splits by
    # maxPartitionBytes), so only then pay the precise RDD probe.
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        pass  # Connect-style sessions: no .rdd — repartition is safe
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_schema(spark: SparkSession, sf_dir: str, name: str):
    """Declared-schema fetch (S4: reference reads BQ schema field names;
    /root/reference/main.py:57-58,181-182)."""
    return read_table(spark, sf_dir, name).schema


def overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Truncate/replace sink (S7/S8: WRITE_TRUNCATE / if_exists='replace';
    /root/reference/main.py:268-271, load_data_first.py:118,147).

    ``partition_by`` enables partition-pruned layouts (e.g. by date) —
    the 100 TB layout for fact tables.
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Bucketed managed table (SURVEY.md §4.2): pre-hash-partition (and
    optionally pre-sort) the rows by the join/merge key at write time.
    Two tables bucketed identically join WITHOUT a shuffle — the 100 TB
    layout for the merge-heavy dimension and its recurring update feed
    (the reference re-shuffles this join remotely every run,
    /root/reference/main.py:274-284)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session may have left files at the managed location
    # without catalog metadata (in-memory catalog); clear them
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:") :]
    loc = os.path.join(warehouse, table)
    if warehouse and os.path.isdir(loc):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.saveAsTable(table)


def create_database(spark: SparkSession, name: str) -> None:
    """DDL: namespace creation (S9; /root/reference/load_data_first.py:72-89)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def drop_table(spark: SparkSession, name: str) -> None:
    """DDL: drop-if-exists (S10; /root/reference/main.py:287)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def point_embedding(sf_dir: str, vec_id: int = 0) -> list[float]:
    """Driver-side point read of one embedding row via pyarrow — no
    Spark job.  A query vector must become a plan LITERAL anyway (the
    similarity entries fold it into codegen), so fetching it through
    ``df.filter(...).first()`` pays a full scan-stage round trip
    (~0.3-1 s per entry) for one row; a pyarrow dataset filter reads
    just the matching row group in milliseconds.  Parquet is the
    common substrate, and float32 → Python float is the same exact
    widening both paths perform, so the literal is bit-identical.
    Falls back loudly if the id is absent (the fixtures guarantee
    vec_id=0 exists)."""
    import pyarrow.dataset as ds

    d = ds.dataset(table_path(sf_dir, "embeddings"), format="parquet")
    t = d.to_table(
        filter=ds.field("vec_id") == vec_id, columns=["embedding"]
    )
    if t.num_rows == 0:
        raise ValueError(f"embeddings has no row with vec_id={vec_id}")
    return [float(x) for x in t.column("embedding")[0].as_py()]

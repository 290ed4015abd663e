"""SparkSession factory with scale-oriented defaults (SURVEY.md §4.2).

Local mode is a correctness harness; the conf is written for a real
cluster: AQE on (runtime partition coalescing + skew-join splitting),
Arrow for any pandas interop, UTC session timezone so results are
comparable with the DuckDB oracle and stable across deployments.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "play_bq_gcp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are overridable for tests/bench; env vars
    ``SPARK_GRAFT_CPUS`` (core count for local master + shuffle
    partitions) let the bench driver control parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores; a real cluster would size this to data volume
        # (AQE coalesces down, so err on the high side there).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture timestamps are parquet TIMESTAMP(NANOS), which Spark
        # only reads as long; set once here so table reads never flip
        # session state mid-flight (catalog.read_table floors ns→µs)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # zstd ≈ snappy read speed at ~30% smaller files — at 100 TB
        # the scan is IO-bound, so the codec is a first-order knob
        .config("spark.sql.parquet.compression.codec", "zstd")
        # warehouse for managed tables (bucketed dims, S9/S10 DDL);
        # local default goes to tmp, a cluster points this at storage
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/play_bq_gcp_spark_warehouse"
            ),
        )
        .config("spark.ui.enabled", "false")
        # no console progress bar: it shares the terminal line with
        # the tools' output lines, which must each start a line of
        # their own
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for one block, then put every key
    back as it was — its explicit value, or unset if it had none —
    even when the block raises.  The ONE way an operator changes
    session conf: a plan-time knob set around a lazy plan is a no-op
    (optimization happens inside the action), so the block must
    contain the action, and nothing may outlive it."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def cached(*dfs: DataFrame) -> Iterator[DataFrame | tuple[DataFrame, ...]]:
    """Cache each DataFrame for one block and yield it (one DataFrame
    yields itself, several yield a tuple); on exit unpersist every one,
    even when the block raises.  The ONE way an operator caches.  The
    rule that goes with it: a DataFrame built from a cached input and
    returned past the block must be materialized inside the block with
    ``localCheckpoint(eager=True)`` — a lazy plan that escapes would
    recompute its inputs after the release."""
    try:
        for df in dfs:
            df.cache()
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in dfs:
            df.unpersist()

"""The reference's daily incremental pipeline, restated as lazy Spark
plans (SURVEY.md §3).

One run = the reference's ``main(request)`` (/root/reference/main.py:296-368):

1. transform the raw API snapshot into the ``game`` shape (projection,
   casts, string functions, surrogate key — main.py:93-115),
2. append rows whose id is new (anti-join — main.py:176-185),
3. compute play-time deltas between the stored dimension and today's
   snapshot and append active rows to the ``time_play`` fact
   (inner join + diff + filter — main.py:193-207, :353),
4. upsert changed rows into the ``game`` dimension (semi-join
   pre-filter + merge — main.py:243-246, :256-287),
5. append today's trophy summary row (main.py:315-339).

The seven network boundaries of the reference collapse into three
write actions over shared cached lineage; there is no staging table
because lineage replaces staging.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from play_bq_gcp_spark.functions.scalar import last_n_chars, surrogate_key
from play_bq_gcp_spark.operators.relational import (
    anti_join,
    is_nonempty,
    semi_join,
    snapshot_delta,
)
from play_bq_gcp_spark.session import cached
from play_bq_gcp_spark.storage import txn_table as tt

GAME_COLUMNS = [
    "id",
    "title_id",
    "title_name",
    "image",
    "category",
    "first_played_date_time",
    "last_played_date_time",
    "play_count",
    "play_duration",
]


def transform_snapshot(raw: DataFrame) -> DataFrame:
    """Raw API snapshot → ``game`` dimension shape (main.py:93-115):
    category → last 3 chars (F1), title_id underscore-strip (F2),
    surrogate ``id`` (F4, native — the reference used a per-row
    lambda), seconds-typed play_duration (F7 upstream)."""
    return raw.select(
        surrogate_key("title_id", "first_played_date_time").alias("id"),
        F.translate("title_id", "_", "").alias("title_id"),
        F.col("title_name").cast("string"),
        F.col("image").cast("string"),
        last_n_chars("category", 3).alias("category"),
        "first_played_date_time",
        "last_played_date_time",
        F.col("play_count").cast("long"),
        F.col("play_duration_seconds").cast("double").alias("play_duration"),
    )


def new_games(snapshot: DataFrame, stored: DataFrame) -> DataFrame:
    """Rows to append: snapshot ids absent from the stored dimension
    (J3; main.py:164-187)."""
    return anti_join(snapshot, stored.select("id"), "id")


def time_play_deltas(
    stored: DataFrame, snapshot: DataFrame, run_date: str
) -> DataFrame:
    """Per-id play deltas between stored state and today's snapshot,
    keeping only active games (J1+F3+P5+P3+F8; main.py:193-207)."""
    return snapshot_delta(
        stored,
        snapshot,
        "id",
        [("play_count", "play_count_diff"), ("play_duration", "play_duration_diff")],
        keep_positive_on="play_count_diff",
    ).withColumn("date", F.lit(run_date).cast("timestamp"))


# the dimension's mutable columns, updated by the daily MERGE INTO
DIM_UPDATE_COLS = ["last_played_date_time", "play_count", "play_duration"]


class TxnWarehouse:
    """The stand-in for the reference's BigQuery dataset, on
    manifest-committed transactional tables (storage/txn_table): every
    append/replace is an atomic versioned commit, readers are
    snapshot-isolated, and history stays time-travelable — the
    crash-safety the reference outsourced to BigQuery (main.py:274-284),
    now intrinsic to the pipeline.  ``append``/``replace``/``merge_dim``
    are the write seam ``run_daily`` goes through."""

    def __init__(self, root: str):
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _ensure(self, table: str) -> None:
        try:
            tt.current_version(self.path(table))
        except FileNotFoundError:
            tt.init_table(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return tt.read(spark, self.path(table))

    def exists(self, table: str) -> bool:
        try:
            return tt.snapshot(self.path(table)).rows > 0
        except FileNotFoundError:
            return False

    def append(self, df: DataFrame, table: str) -> None:
        self._ensure(table)
        tt.append(df, self.path(table))

    def replace(self, df: DataFrame, table: str) -> None:
        self._ensure(table)
        # read-own-input is safe without staging: the new commit's data
        # files land BESIDE the old version's (immutable) files, and
        # the swap is the manifest create
        tt.overwrite(df, self.path(table))

    def merge_dim(
        self,
        spark: SparkSession,
        table: str,
        snapshot: DataFrame,
        deltas: DataFrame,
        fresh: DataFrame,
    ) -> None:
        """The reference's UPDATE…FROM + insert (main.py:274-284) as a
        single transactional MERGE INTO commit: changed rows (activity
        semi-join) update ``DIM_UPDATE_COLS``, brand-new rows insert,
        and pruning is range-based: only base files whose recorded
        ``id`` range overlaps the source's one [min, max] are
        rewritten, the rest are carried by reference.  The day's
        surrogate ids are scattered, so that interval usually spans
        every file; the carry only pays when the changed ids are
        range-local.  CDF (``txn_table.changes``) exposes exactly the
        rewritten files to downstream incrementals."""
        changed = semi_join(snapshot, deltas.select("id"), "id")
        tt.merge_into(
            spark,
            self.path(table),
            changed.unionByName(fresh),
            key="id",
            update_cols=DIM_UPDATE_COLS,
            insert=True,
        )


def bootstrap(wh: TxnWarehouse, snapshot: DataFrame) -> None:
    """First full load (load_data_first.py:118,147): replace-write the
    dimension; facts start empty."""
    wh.replace(transform_snapshot(snapshot), "game")


def run_daily(
    wh: TxnWarehouse,
    spark: SparkSession,
    raw_snapshot: DataFrame,
    run_date: str,
    trophy_row: DataFrame | None = None,
) -> dict[str, int]:
    """One scheduled run (main.py:296-368).  Returns per-table appended/
    updated row counts for observability.

    Stats protocol: ONE combined guard job materializes both caches and
    yields both counts (two 1-row aggregates crossJoined — not two
    separate ``count()`` jobs), mirroring the reference's ``len(df)``
    guards (main.py:184, :350) at half the job count.  The write
    actions then carry ``Observation`` metrics, so the reported stats
    are re-derived from the writes themselves for free — a write whose
    observed count disagreed with its guard would surface here."""
    from pyspark.sql import Observation

    stats: dict[str, int] = {}
    obs_fresh, obs_deltas = Observation(), Observation()
    with cached(
        transform_snapshot(raw_snapshot), wh.read(spark, "game")
    ) as (snapshot, stored):
        # 2. brand-new games (guarded, P8); 3. play-time deltas
        with cached(
            new_games(snapshot, stored).observe(
                obs_fresh, F.count(F.lit(1)).alias("rows")
            ),
            time_play_deltas(stored, snapshot, run_date).observe(
                obs_deltas, F.count(F.lit(1)).alias("rows")
            ),
        ) as (fresh, deltas):
            guard = (
                fresh.agg(F.count(F.lit(1)).alias("new_games"))
                .crossJoin(deltas.agg(F.count(F.lit(1)).alias("time_play")))
                .first()
            )
            stats["new_games"] = guard["new_games"]
            stats["time_play"] = guard["time_play"]

            # 3. deltas → append-only fact, partitioned by date at scale
            if stats["time_play"] > 0:
                wh.append(deltas, "time_play")

            # 2+4. next dimension state = stored with changed rows
            # upserted, plus the new rows — ONE MERGE INTO commit so
            # appends and updates cannot clobber each other (the
            # reference relies on BigQuery doing the append and the
            # UPDATE as separate remote transactions).
            if stats["new_games"] > 0 or stats["time_play"] > 0:
                wh.merge_dim(spark, "game", snapshot, deltas, fresh)
                # free re-derivation off the actions that already ran
                # (the guard job populated both observations via the
                # caches)
                stats["new_games_observed"] = int(obs_fresh.get["rows"])
                stats["time_play_observed"] = int(obs_deltas.get["rows"])

    # 5. trophy snapshot append (main.py:35-64)
    if trophy_row is not None and is_nonempty(trophy_row):
        wh.append(
            trophy_row.withColumn("date", F.lit(run_date).cast("timestamp")),
            "trophee",
        )
        stats["trophee"] = 1

    return stats

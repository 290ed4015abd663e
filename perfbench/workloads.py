"""The benchmark's workloads.

A workload lands its inputs (``land``), then runs identical calls.
Each call is ``prepare`` (untimed), ``run`` (the timed call) and
``finish`` (untimed: turns the run's result into the record ``check``
compares against expectations).  A traced call first runs ``probe``
(untimed, outside the call's job and CPU accounting) for figures that
need work of their own.

* ``DailyCycle``: one ``plans.pipeline.run_daily`` on a transactional
  warehouse per call, restored from a seeded template before each call.
* ``RegistryWorkload``: a fixed list of query-registry entries per call,
  each materialized through ``bench.forced_materialization`` and
  collected; outputs are checked against the entries' DuckDB oracles,
  computed over the same seeded tables after the timed calls.

Traced calls (``trace`` is a ``CallTrace``) add the per-layer probes;
untraced calls run the program exactly as a user would.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import gen, spark_trace

RUN_DATE = "2024-06-01"


def canonical(cols: list[str], rows) -> tuple[int, str]:
    """Order-insensitive (row count, sha256) of a result: columns in
    sorted-name order, floats at 9 significant digits (the precision the
    repo's oracle gate compares at), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    keyed = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(keyed).encode()).hexdigest()
    return len(keyed), h


@dataclass
class CallTrace:
    """Per-layer figures of one traced call; ``values`` maps per-layer
    metric names to this call's value."""

    values: dict[str, float] = field(default_factory=dict)

    def add(self, name: str, v: float) -> None:
        self.values[name] = self.values.get(name, 0.0) + float(v)


class DailyCycle:
    """The reference's daily incremental load on a ``TxnWarehouse``.

    The template warehouse holds the DataSource's titles minus a seeded
    ~2 % (new games) and with a seeded ~10 % stored at lower
    ``play_count``/``play_duration`` (deltas and upserts), so every call
    appends the same known counts and leaves the dimension equal to
    today's transformed snapshot."""

    def __init__(self, spark, seed: int, work: str, pages: int, page_size: int):
        self.spark = spark
        self.work = work
        self.options = {
            "pages": str(pages),
            "page_size": str(page_size),
            "seed": str(seed),
        }
        self.plan = gen.daily_plan(seed, pages * page_size)
        self.template = None
        self.root = os.path.join(work, "wh")
        self.n = 0

    def _snapshot(self):
        return self.spark.read.format("game_snapshot").options(**self.options).load()

    def land(self) -> None:
        """Register the DataSource and write the template warehouse."""
        from pyspark.sql import functions as F

        from play_bq_gcp_spark.plans.pipeline import TxnWarehouse, transform_snapshot
        from play_bq_gcp_spark.sources.psn_datasource import GameSnapshotDataSource

        self.spark.dataSource.register(GameSnapshotDataSource)
        self.n += 1
        root = os.path.join(self.work, f"template{self.n}")
        dim = transform_snapshot(self._snapshot())
        # title_id "CUSA<n:05d>00" after the transform's underscore strip
        idx = F.substring("title_id", 5, 5).cast("int")
        lowered = idx.isin(self.plan["lowered"])
        dim = (
            dim.filter(~idx.isin(self.plan["missing"]))
            .withColumn(
                "play_count",
                F.when(lowered, F.col("play_count") - 1).otherwise(F.col("play_count")),
            )
            .withColumn(
                "play_duration",
                F.when(lowered, F.col("play_duration") / 2).otherwise(
                    F.col("play_duration")
                ),
            )
        )
        TxnWarehouse(root).replace(dim, "game")
        if self.template is not None:
            shutil.rmtree(self.template)
        self.template = root

    def prepare(self) -> None:
        """Restore the warehouse from the template."""
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.template, self.root)

    def run(self, trace: CallTrace | None = None) -> dict:
        from play_bq_gcp_spark.plans.pipeline import TxnWarehouse, run_daily

        if trace is None:
            return run_daily(
                TxnWarehouse(self.root), self.spark, self._snapshot(), RUN_DATE
            )
        t0 = time.perf_counter()
        stats = run_daily(
            _timed_warehouse(self.root, trace), self.spark, self._snapshot(), RUN_DATE
        )
        wall = time.perf_counter() - t0
        trace.add("pipeline.run_daily_s", wall)
        trace.add(
            "pipeline.self_s",
            wall
            - trace.values.get("storage.merge_dim_s", 0.0)
            - trace.values.get("storage.append_s", 0.0),
        )
        trace.add("pipeline.new_games", stats.get("new_games", 0))
        trace.add("pipeline.time_play", stats.get("time_play", 0))
        return stats

    def finish(self, stats: dict) -> dict:
        from play_bq_gcp_spark.storage import txn_table as tt

        dim = tt.read(self.spark, os.path.join(self.root, "game"))
        return {"stats": stats, "dim": canonical(dim.columns, dim.collect())}

    def probe(self, trace: CallTrace) -> None:
        """The same scan run_daily reads, alone, written to noop."""
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        t0 = time.perf_counter()
        (
            self._snapshot()
            .observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        trace.add("sources.scan_s", time.perf_counter() - t0)
        trace.add("sources.rows", obs.get["rows"])

    def check(self, outputs: list[dict]) -> list[str]:
        """Failures among ``outputs``: stats must equal the plan's
        counts, each observed count its guard, and the committed
        dimension the transformed snapshot."""
        from play_bq_gcp_spark.plans.pipeline import transform_snapshot

        want = transform_snapshot(self._snapshot())
        want_dim = canonical(want.columns, want.collect())
        exp = self.plan["expected"]
        bad = []
        for i, out in enumerate(outputs):
            s = out["stats"]
            problems = [
                k
                for k in ("new_games", "time_play")
                if s.get(k) != exp[k] or s.get(f"{k}_observed") != s.get(k)
            ]
            if out["dim"] != want_dim:
                problems.append(f"dimension {out['dim'][0]} rows != {want_dim[0]}")
            if problems:
                bad.append(f"call {i}: {', '.join(problems)} (stats {s})")
        return bad


def _timed_warehouse(root: str, trace: CallTrace):
    """A ``TxnWarehouse`` whose write seams record their wall time and
    the dimension commit's file and byte figures into ``trace``."""
    from play_bq_gcp_spark.plans.pipeline import TxnWarehouse
    from play_bq_gcp_spark.storage import txn_table as tt

    class TimedTxnWarehouse(TxnWarehouse):
        def append(self, df, table):
            t0 = time.perf_counter()
            super().append(df, table)
            trace.add("storage.append_s", time.perf_counter() - t0)

        def merge_dim(self, spark, table, *args):
            before = set(tt.snapshot(self.path(table)).files)
            t0 = time.perf_counter()
            super().merge_dim(spark, table, *args)
            trace.add("storage.merge_dim_s", time.perf_counter() - t0)
            snap = tt.snapshot(self.path(table))
            after = set(snap.files)
            trace.add("storage.files_rewritten", len(after - before))
            trace.add("storage.files_carried", len(after & before))
            size = sum(
                os.path.getsize(os.path.join(self.path(table), f)) for f in after
            )
            trace.add("storage.bytes_per_row", size / max(1, snap.rows))

    return TimedTxnWarehouse(root)


class RegistryWorkload:
    """A fixed list of query-registry entries over seeded fixture
    tables at scale factor ``sf``."""

    def __init__(self, spark, seed: int, work: str, sf: float, entries: list[str]):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.sf = sf
        self.entries = entries
        self.sf_dir = None
        self.n = 0

    def land(self) -> None:
        """Write the fixture tables."""
        self.n += 1
        d = os.path.join(self.work, f"tables{self.n}", f"sf{self.sf}")
        gen.land_tables(self.seed, self.sf, d)
        self.sf_dir = d

    def prepare(self) -> None:
        pass

    def probe(self, trace: CallTrace) -> None:
        pass

    def run(self, trace: CallTrace | None = None) -> dict:
        from bench import forced_materialization
        from play_bq_gcp_spark import queries as q

        out = {}
        for name in self.entries:
            t0 = time.perf_counter()
            df = q.QUERIES[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            fm = forced_materialization(df)
            rows = fm.collect()
            if trace is not None:
                trace.add(f"queries.{name}.build_s", t1 - t0)
                trace.add(f"queries.{name}.exec_s", time.perf_counter() - t1)
                for phase, sec in spark_trace.catalyst_phases(fm).items():
                    trace.add(f"catalyst.{phase}_s", sec)
            out[name] = (fm.columns, rows)
        return out

    def finish(self, result: dict) -> dict:
        return {name: canonical(*result[name]) for name in self.entries}

    def check(self, outputs: list[dict]) -> list[str]:
        """Every call's per-entry (rows, hash) must equal the entry's
        DuckDB oracle (``queries.ORACLES``) over the same tables."""
        import duckdb

        from play_bq_gcp_spark.queries import ORACLES

        con = duckdb.connect()
        for t in sorted(os.listdir(self.sf_dir)):
            path = os.path.join(self.sf_dir, t)
            con.sql(
                f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
        want = {}
        for name in self.entries:
            rel = con.sql(ORACLES[name])
            want[name] = canonical(rel.columns, rel.fetchall())
        con.close()
        bad = []
        for i, out in enumerate(outputs):
            for name in self.entries:
                if out[name] != want[name]:
                    bad.append(
                        f"call {i}: {name} {out[name][0]} rows / hash "
                        f"{out[name][1][:12]} != expected {want[name][0]} rows "
                        f"/ {want[name][1][:12]}"
                    )
        return bad

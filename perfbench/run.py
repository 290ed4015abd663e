"""Run one benchmark workload in this (fresh) process.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The process starts a Spark session
through ``session.get_spark``, lands the workload's seeded inputs,
warms up (two calls), then runs identical calls for ``--seconds`` seconds (at
least three) and checks every call's output.  Everything it writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.

Output: a JSON line with the environment record and the call
distribution, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones (``setup_s``, ``call_s``,
``call_cpu_s``); with ``--trace 1`` the per-layer ones, from a run
that interleaves traced and untraced calls so the tracing overhead is
reported too (``trace.overhead_s``).  A call that raises or whose
output fails its check counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import cpu, spark_trace  # noqa: E402
from perfbench.workloads import CallTrace, DailyCycle, RegistryWorkload  # noqa: E402

# Task slots (local[N] and shuffle partitions).  Two, not one per core:
# at these input sizes a call is made of many small jobs, and on a
# 4-core host local[4] ran the corpus call 1.8x slower at twice the CPU,
# its task threads competing with JIT, GC and Python worker processes.
CPUS = min(2, len(os.sched_getaffinity(0)))
# Spark driver heap; the workloads' inputs are small.
DRIVER_MEM = "2g"

# The corpus-curation call: the governed containment dedup (the most
# expensive registry entry) and the cheapest streaming entry, a
# foreachBatch merge, which keeps the streaming module (micro-batch
# planning and commits) measured at little run length.
CORPUS_ENTRIES = [
    "dedup_containment_governed",
    "streaming_foreach_batch_merge",
]

# name -> factory(spark, seed, work directory)
WORKLOADS = {
    "daily_cycle": lambda spark, seed, work: DailyCycle(
        spark, seed, work, pages=8, page_size=500
    ),
    "corpus_curation": lambda spark, seed, work: RegistryWorkload(
        spark, seed, work, 0.01, CORPUS_ENTRIES
    ),
}
# setup_s is the session start plus the median of this many landings
LANDINGS = 3
# untimed warm-up calls: the first two calls of a fresh JVM carry most of
# its JIT compilation, which makes their CPU time vary run to run
WARMUPS = 2
# timed calls per run at least, so one disturbed call cannot set the median
MIN_CALLS = 3

END_TO_END = {"setup_s": "s", "call_s": "s", "call_cpu_s": "s"}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order.  A
    layer a workload does not run reads 0 on it."""
    m = {
        "session.start_s": "s",
        "warmup.first_call_s": "s",
        "trace.overhead_s": "s",
        "sources.scan_s": "s",
        "sources.rows": "count",
        "pipeline.run_daily_s": "s",
        "pipeline.self_s": "s",
        "pipeline.new_games": "count",
        "pipeline.time_play": "count",
        "storage.merge_dim_s": "s",
        "storage.append_s": "s",
        "storage.files_rewritten": "count",
        "storage.files_carried": "count",
        "storage.bytes_per_row": "B",
        "catalog.read_table_s": "s",
        "catalog.read_table_calls": "count",
        "catalyst.analysis_s": "s",
        "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "exec.jobs": "count",
        "exec.tasks": "count",
        "exec.task_s": "s",
        "exec.shuffle_mb": "MiB",
        "exec.spill_mb": "MiB",
        "mem.cached_mb_peak": "MiB",
        "mem.jvm_hwm_mb": "MiB",
        "jvm.gc_s": "s",
        "jvm.jit_s": "s",
        "streaming.batches": "count",
        "streaming.batch_s": "s",
        "streaming.state_commit_s": "s",
        "streaming.state_rows": "count",
        "streaming.outside_batches_s": "s",
        "cpu.driver_s": "s",
        "cpu.jvm_s": "s",
        "cpu.pyworker_s": "s",
    }
    for name in CORPUS_ENTRIES:
        m[f"queries.{name}.build_s"] = "s"
        m[f"queries.{name}.exec_s"] = "s"
    return m


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _isolate(work: str) -> None:
    """Point every temp, scratch and warehouse location of this process,
    the JVM and the Python workers into ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM, the spark-submit launcher's included: temp files in
    # ``work`` and no hsperfdata files under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Tracer:
    """Per-layer probes around one traced call."""

    def __init__(self, spark) -> None:
        from play_bq_gcp_spark import catalog, queries  # noqa: F401

        self.spark = spark
        self.jobs = spark_trace.JobCounter(spark)
        self.progress = spark_trace.ProgressKeeper()
        spark.streams.addListener(self.progress)
        self.read_table = spark_trace.Timer()
        # rebind every module-level name for catalog.read_table (modules
        # that import it inside functions see the rebound catalog name)
        original = catalog.read_table
        timed = self.read_table.wrap(original)
        for mod in list(sys.modules.values()):
            if getattr(mod, "read_table", None) is original:
                mod.read_table = timed
        self.poller = None
        self.jvm = {}

    def begin(self) -> None:
        self.jobs.skip()
        self.progress.drain(timeout=0)
        self.read_table.take()
        self.jvm = spark_trace.jvm_times(self.spark)
        self.poller = spark_trace.CachePoller(self.spark)
        self.poller.start()

    def end(self, tr: CallTrace, cpu_used: dict) -> None:
        self.poller.stop()
        tr.add("mem.cached_mb_peak", self.poller.peak / 2**20)
        for k, v in self.jobs.take().items():
            tr.add(f"exec.{k}", v)
        stream = spark_trace.streaming_summary(self.progress.drain())
        for k, v in stream.items():
            tr.add(f"streaming.{k}", v)
        if stream["batches"]:
            # the streaming entries' own time (the registry names them
            # streaming_*) not spent inside a micro-batch
            in_entries = sum(
                v for k, v in tr.values.items() if k.startswith("queries.streaming_")
            )
            tr.add("streaming.outside_batches_s", in_entries - stream["batch_s"])
        s, n = self.read_table.take()
        tr.add("catalog.read_table_s", s)
        tr.add("catalog.read_table_calls", n)
        for k in ("driver", "jvm", "pyworker"):
            tr.add(f"cpu.{k}_s", cpu_used[k])
        for k, v in spark_trace.jvm_times(self.spark).items():
            tr.add(f"jvm.{k}", v - self.jvm[k])


def _stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for it; the Python workers go with the JVM."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def measure(args, work: str) -> tuple[dict, dict]:
    from play_bq_gcp_spark.session import get_spark

    factory = WORKLOADS[args.workload]
    load_before = os.getloadavg()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        session_s = _process_age()
        wl = factory(spark, args.seed, work)
        land_s = []
        for _ in range(LANDINGS):
            t0 = time.perf_counter()
            wl.land()
            land_s.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(land_s)
        tracer = Tracer(spark) if args.trace else None

        outputs, failures = [], []
        walls = {False: [], True: []}
        cpus, traces = [], []

        def one(traced: bool) -> tuple[float, dict]:
            wl.prepare()
            tr = CallTrace() if traced else None
            if traced:
                wl.probe(tr)
                tracer.begin()
            c0 = cpu.tree_cpu()
            t0 = time.perf_counter()
            try:
                raw = wl.run(tr)
            except Exception:
                if traced:
                    tracer.poller.stop()
                raise
            wall = time.perf_counter() - t0
            used = cpu.delta(cpu.tree_cpu(), c0)
            if traced:
                tracer.end(tr, used)
                traces.append(tr.values)
            outputs.append(wl.finish(raw))
            return wall, used

        def attempt(traced: bool, timed: bool) -> float | None:
            try:
                wall, used = one(traced)
            except Exception:  # a failed call is counted, not timed
                failures.append(traceback.format_exc(limit=8))
                print(failures[-1], file=sys.stderr)
                return
            if timed:
                walls[traced].append(wall)
                if not traced:
                    cpus.append(used["total"])
            return wall

        first_call_s = attempt(False, False)
        for _ in range(WARMUPS - 1):
            attempt(False, False)
        # calls until --seconds have passed, and at least MIN_CALLS; a
        # traced run interleaves untraced and traced calls in ABBA order
        # (so neither side gets the more warmed-up slots)
        t_end = time.perf_counter() + args.seconds
        k = 0
        while time.perf_counter() < t_end or k < MIN_CALLS:
            attempt(bool(args.trace and k % 4 in (1, 2)), True)
            k += 1
        bad = wl.check(outputs) if outputs else []
        for b in bad:
            print(f"output check failed: {b}", file=sys.stderr)
        hwm = spark_trace.jvm_hwm_mb(spark)
        env = {
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "os_cpu_count": os.cpu_count(),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.System.getProperty(
                "java.version"
            ),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_memory": DRIVER_MEM,
            "load1_before": load_before[0],
            "load1_after": os.getloadavg()[0],
        }
    finally:
        _stop(spark)

    attempted = len(outputs) + len(failures)
    failed = len(failures) + len({b.split(":")[0] for b in bad})
    untraced = walls[False]

    def q(xs):
        return statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": env,
        "setup": {"session_s": session_s, "landings_s": land_s},
        "first_call_s": first_call_s,
        "calls": {
            "n": len(untraced),
            "call_s_quartiles": q(untraced),
            "call_cpu_s_quartiles": q(cpus),
            "traced_n": len(walls[True]),
        },
        "failures": failures + bad,
    }
    if not untraced:
        metrics = {}
    elif not args.trace:
        values = {
            "setup_s": setup_s,
            "call_s": statistics.median(untraced),
            "call_cpu_s": statistics.median(cpus),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        units = per_layer_metrics()
        values = {k: 0.0 for k in units}
        for k in units:
            seen = [t[k] for t in traces if k in t]
            if seen:
                values[k] = statistics.median(seen)
        values["session.start_s"] = session_s
        values["warmup.first_call_s"] = first_call_s or 0.0
        values["mem.jvm_hwm_mb"] = hwm
        if walls[True]:
            values["trace.overhead_s"] = statistics.median(
                walls[True]
            ) - statistics.median(untraced)
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    result = {
        "correct": not bad and not failures and bool(untraced),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import bench  # noqa: F401
        import play_bq_gcp_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        detail, result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

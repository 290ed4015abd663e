"""Per-layer probes read from the benchmark's side of each layer
boundary, through Spark's public status APIs.

* ``catalyst_phases``: the analysis / optimization / planning times of
  one action's ``queryExecution().tracker()``.
* ``JobCounter``: jobs, tasks, task time, shuffle bytes and spill of
  the jobs a call started, from ``statusTracker()`` and the
  application status store.
* ``CachePoller``: peak bytes held by cached / checkpointed RDDs
  (``getRDDStorageInfo``), sampled on a background thread.
* ``ProgressKeeper``: a ``StreamingQueryListener`` that keeps every
  micro-batch's progress (``recentProgress`` keeps only the last 100).
* ``Timer``: wraps a module function and accumulates its wall time and
  call count (used for ``catalog.read_table``).
"""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of ``df``'s own QueryExecution (call
    after the action so optimization and planning are included)."""
    out = {p: 0.0 for p in _PHASES}
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        name = kv._1()
        if name in out:
            out[name] = kv._2().durationMs() / 1000.0
    return out


class JobCounter:
    """Figures of the Spark jobs started since the last ``skip`` or
    ``take``: found by job id (ids are sequential and calls run one at
    a time, so this also covers jobs a call starts on other threads,
    such as streaming micro-batches), with their stages' completed
    tasks, task time, shuffle bytes written and disk spill from the
    application status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.next_id = 0

    def _scan(self) -> list[int]:
        """Known job ids from ``next_id`` on; eight missing ids in a
        row end the scan."""
        ids, j, misses = [], self.next_id, 0
        while misses < 8:
            if self.tracker.getJobInfo(j) is None:
                misses += 1
            else:
                ids.append(j)
                misses = 0
            j += 1
        if ids:
            self.next_id = ids[-1] + 1
        return ids

    def skip(self) -> None:
        self._scan()

    def take(self) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        ids = self._scan()
        out = {"jobs": float(len(ids)), "tasks": 0.0, "task_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0}
        for jid in ids:
            for sid in self.tracker.getJobInfo(jid).stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
        return out


class CachePoller:
    """Peak cached + checkpointed RDD bytes (memory and disk) between
    ``start`` and ``stop``, sampled every ``INTERVAL`` seconds."""

    INTERVAL = 0.25

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        infos = self.jsc.getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.INTERVAL)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        self.peak = max(self.peak, self.sample())


class ProgressKeeper(StreamingQueryListener):
    """Keeps every micro-batch's progress of every streaming query."""

    def __init__(self) -> None:
        self.progress: list = []
        self.started = 0
        self.terminated = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(event.progress)

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout: float = 5.0) -> list:
        """Wait until every started query reported termination (the
        listener bus is asynchronous), then hand back and clear the
        kept progress."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.progress = self.progress, []
        return out


def streaming_summary(progress: list) -> dict[str, float]:
    """Batches, summed trigger time and state-commit time, and the
    state rows held after each query's last batch."""
    last_rows: dict[str, int] = {}
    batch_ms = commit_ms = 0.0
    for p in progress:
        batch_ms += float(p.durationMs.get("triggerExecution", 0))
        rows = 0
        for op in p.stateOperators:
            commit_ms += float(op.commitTimeMs)
            rows += int(op.numRowsTotal)
        last_rows[str(p.id)] = rows
    return {
        "batches": float(len(progress)),
        "batch_s": batch_ms / 1000.0,
        "state_commit_s": commit_ms / 1000.0,
        "state_rows": float(sum(last_rows.values())),
    }


class Timer:
    """Accumulated wall time and call count of a wrapped function."""

    def __init__(self) -> None:
        self.seconds = 0.0
        self.calls = 0

    def wrap(self, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        return timed

    def take(self) -> tuple[float, int]:
        out = (self.seconds, self.calls)
        self.seconds, self.calls = 0.0, 0
        return out


def jvm_times(spark) -> dict[str, float]:
    """Cumulative JVM garbage-collection and JIT-compilation seconds
    (``java.lang.management`` beans)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    return {"gc_s": gc / 1000.0, "jit_s": jit / 1000.0}


def jvm_hwm_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0

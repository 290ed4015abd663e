"""Tests of the benchmark's own parts (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import cpu, gen  # noqa: E402
from perfbench.workloads import canonical  # noqa: E402


def test_same_seed_same_tables_and_plan():
    a, b = gen.build_tables(5, 0.001), gen.build_tables(5, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert gen.daily_plan(5, 4000) == gen.daily_plan(5, 4000)


def test_two_seeds_differ():
    a, b = gen.build_tables(5, 0.001), gen.build_tables(6, 0.001)
    for name in ("customer", "lineitem", "events", "documents", "embeddings"):
        assert not a[name].equals(b[name]), name
    assert gen.daily_plan(5, 4000)["missing"] != gen.daily_plan(6, 4000)["missing"]


def test_daily_plan_counts():
    p = gen.daily_plan(3, 4000)
    missing, lowered = set(p["missing"]), set(p["lowered"])
    assert not missing & lowered
    assert all(0 <= i < 4000 for i in missing | lowered)
    assert p["expected"] == {"new_games": len(missing), "time_play": len(lowered)}
    assert (len(missing), len(lowered)) == (80, 400)
    with pytest.raises(ValueError):
        gen.daily_plan(3, 100_000)


def test_table_invariants():
    t = gen.build_tables(9, 0.001)
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    assert set(t["events"].column("event_type").to_pylist()) == set(gen.EVENT_TYPES)
    assert 0 in t["embeddings"].column("vec_id").to_pylist()
    assert t["lineitem"].num_rows == gen.table_sizes(0.001)["lineitem"]


def test_canonical_is_order_insensitive():
    rows = [(1, 2.0, "a"), (2, 0.1 + 0.2, "b")]
    assert canonical(["x", "y", "z"], rows) == canonical(
        ["x", "y", "z"], list(reversed(rows))
    )
    # columns compared by name, not position
    assert canonical(["x", "y"], [(1, 2)]) == canonical(["y", "x"], [(2, 1)])
    assert canonical(["x"], [(1,)]) != canonical(["x"], [(2,)])


_BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<{s}: pass\n"


def test_tree_cpu_counts_live_child():
    before = cpu.tree_cpu()
    child = subprocess.Popen(
        [sys.executable, "-c", _BURN.format(s=0.5) + "time.sleep(30)"]
    )
    try:
        deadline = time.monotonic() + 20
        seen = 0.0
        while time.monotonic() < deadline and seen < 0.45:
            time.sleep(0.1)
            seen = cpu.delta(cpu.tree_cpu(), before)["pyworker"]
        assert seen >= 0.45
    finally:
        child.kill()
        child.wait(timeout=10)


def test_tree_cpu_keeps_reaped_child():
    before = cpu.tree_cpu()
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.5)], check=True, timeout=30)
    d = cpu.delta(cpu.tree_cpu(), before)
    # the exited child is accounted to the root's reaped-children time
    assert d["other"] >= 0.45
    assert d["total"] >= d["other"] + d["driver"] - 1e-9


def test_benchmark_json_matches_the_code():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_metrics()


def test_progress_keeper_keeps_every_batch():
    from types import SimpleNamespace as NS

    from perfbench import spark_trace

    keeper = spark_trace.ProgressKeeper()
    keeper.onQueryStarted(None)
    for b in range(150):  # past recentProgress's default cap of 100
        op = NS(commitTimeMs=2, numRowsTotal=b + 1)
        p = NS(id="q1", durationMs={"triggerExecution": 10}, stateOperators=[op])
        keeper.onQueryProgress(NS(progress=p))
    keeper.onQueryTerminated(None)
    s = spark_trace.streaming_summary(keeper.drain(timeout=1))
    assert s == {"batches": 150.0, "batch_s": 1.5, "state_commit_s": 0.3,
                 "state_rows": 150.0}
    assert keeper.drain(timeout=0) == []

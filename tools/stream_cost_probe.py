"""Per-micro-batch cost breakdown for the streaming headline entries
(r13 verdict #6): where does the wall time of
``streaming_window_dedup_counts`` actually go?

Runs the entry's own function, ``streaming/daily.windowed_deduped_counts``
(doubled stream → dropDuplicatesWithinWatermark → 1 h windows, complete
mode, AvailableNow, noDataMicroBatches off, 8 state partitions, all
conf scoped by ``run_available_now``), with perfbench's
``ProgressKeeper`` listener registered, so every micro-batch's
``StreamingQueryProgress`` is kept (``recentProgress`` keeps only the
last 100): ``durationMs`` splits each micro-batch into latestOffset /
getBatch / queryPlanning / addBatch / walCommit / commitOffsets, all
inside ``triggerExecution``, and ``stateOperators`` reports
per-operator state commit time and rows.  Everything outside the
batches (query start/stop, checkpoint dir setup, memory-sink view)
shows up as ``wall - sum(triggerExecution)``.

Usage: python tools/stream_cost_probe.py [--sf SF_DIR] [--rounds N]
Prints one JSON line with per-round batch breakdowns.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rounds = 3
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--rounds":
            rounds = int(args[i + 1])
            i += 2
        else:
            sys.exit(f"unknown arg {args[i]}")

    from perfbench.spark_trace import ProgressKeeper
    from play_bq_gcp_spark.session import get_spark
    from play_bq_gcp_spark.streaming.daily import windowed_deduped_counts

    spark = get_spark(app_name="stream_cost_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    keeper = ProgressKeeper()
    spark.streams.addListener(keeper)

    out: list[dict] = []
    for r in range(rounds):
        t0 = time.perf_counter()
        windowed_deduped_counts(spark, sf_dir)
        wall = time.perf_counter() - t0
        batches = [
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
                "stateOperators": [
                    {
                        "operatorName": s.operatorName,
                        "numRowsTotal": s.numRowsTotal,
                        "allUpdatesTimeMs": s.allUpdatesTimeMs,
                        "allRemovalsTimeMs": s.allRemovalsTimeMs,
                        "commitTimeMs": s.commitTimeMs,
                    }
                    for s in p.stateOperators
                ],
            }
            for p in keeper.drain()
        ]
        # triggerExecution spans the whole batch; the other durationMs
        # keys are phases inside it
        total_batch_ms = sum(
            b["durationMs"].get("triggerExecution", 0) for b in batches
        )
        out.append(
            {
                "round": r,
                "wall_s": round(wall, 3),
                "n_batches": len(batches),
                "sum_batch_durationMs": total_batch_ms,
                "outside_batches_s": round(wall - total_batch_ms / 1000.0, 3),
                "batches": batches,
            }
        )
        print(f"# round {r}: wall {wall:.3f}s", file=sys.stderr)

    print(json.dumps({"sf_dir": sf_dir, "rounds": out}))


if __name__ == "__main__":
    main()

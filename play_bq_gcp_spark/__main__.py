"""Runnable entry point: one daily pipeline cycle, end to end.

The reference is a scheduled Cloud Function — ``main(request)`` at
/root/reference/main.py:296 runs scan → transform → incremental load
once per cron tick (deploy.sh:8-12).  This is the same cycle as a CLI:

    python -m play_bq_gcp_spark --warehouse /tmp/wh
    python -m play_bq_gcp_spark --warehouse /tmp/wh --date 2024-06-01 \\
        --pages 8 --page-size 250

The snapshot comes from the registered Spark DataSource (contiguous
groups of up to five API pages per input partition, the per-task token
bucket's burst, through the HTTP seam; offline fake transport in this
container — swap the transport for a real deployment).  Every table
write is an atomic versioned commit (storage/txn_table), the
transactional warehouse the reference gets from BigQuery.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="play_bq_gcp_spark", description="run one daily pipeline cycle"
    )
    ap.add_argument("--warehouse", required=True, help="warehouse directory")
    ap.add_argument(
        "--date",
        default=dt.date.today().isoformat(),
        help="run date (YYYY-MM-DD; default today)",
    )
    ap.add_argument("--pages", type=int, default=4)
    ap.add_argument("--page-size", type=int, default=100)
    args = ap.parse_args(argv)

    from play_bq_gcp_spark.plans.pipeline import (
        TxnWarehouse,
        bootstrap,
        run_daily,
    )
    from play_bq_gcp_spark.session import get_spark
    from play_bq_gcp_spark.sources.psn_datasource import GameSnapshotDataSource

    spark = get_spark(app_name="daily_pipeline")
    spark.dataSource.register(GameSnapshotDataSource)
    snapshot = (
        spark.read.format("game_snapshot")
        .option("pages", args.pages)
        .option("page_size", args.page_size)
        .load()
    )

    wh = TxnWarehouse(args.warehouse)
    if not wh.exists("game"):
        bootstrap(wh, snapshot)
        print(json.dumps({"run": "bootstrap", "warehouse": args.warehouse}))
        return 0
    stats = run_daily(wh, spark, snapshot, args.date)
    print(json.dumps({"run": "daily", "date": args.date, **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

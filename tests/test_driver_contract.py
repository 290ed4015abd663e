"""Tripwire for the external driver's session contract.

The correctness driver builds its OWN bare SparkSession (plain
``SparkSession.builder.getOrCreate()``, never ``session.get_spark``), so
every fixture-reading code path must work without any conf set at
session build.  Round 2 regressed exactly this: moving
``spark.sql.legacy.parquet.nanosAsLong`` into get_spark broke all 12
events-table queries under the driver's bare session
(PARQUET_TYPE_ILLEGAL).  This test runs in a subprocess — a genuinely
fresh JVM with no inherited conf — and fails if anyone reintroduces a
get_spark-only dependency.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .appName("bare-driver-sim")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

from play_bq_gcp_spark.catalog import read_table

df = read_table(spark, "/root/testdata/sf0.001", "events")
n = df.count()
assert n > 0, "events read returned no rows"
ts_type = df.schema["ts"].dataType.typeName()
assert ts_type == "timestamp", f"ts decoded as {ts_type}, expected timestamp"

import __spark_entry__ as entry_mod

q = entry_mod.queries()["window_events_suite"]
rows = q(spark, "/root/testdata/sf0.001").count()
print(json.dumps({"events_rows": n, "query_rows": rows}))
"""


def test_bare_session_reads_events_and_runs_registry_entry():
    proc = subprocess.run(
        [
            sys.executable, "-c", _SCRIPT,
            str(pathlib.Path(__file__).resolve().parents[1]),
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"bare-session run failed:\n{proc.stderr[-4000:]}"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["events_rows"] > 0
    assert out["query_rows"] > 0


ROWS_ONLY_FLOAT_ENTRIES = {
    # entry -> (expected columns, minimum row count at sf0.001)
    "similarity_ann_lsh": None,
    "similarity_ann_ivf": None,
    "similarity_ann_pq": None,
    "similarity_ann_ivfpq": None,
    "similarity_ann_suite": None,
    "similarity_mmr_rerank": None,
    "multimodal_audio_dedup": None,
}


def test_rows_only_float_entries_execute(spark):
    """Execution pin for the SEVEN rows-only registry entries (float
    ANN family, float MMR, FFT audio dedup — r12 verdict #5): they
    have no DuckDB oracle BY DESIGN, so the driver's gate can never
    attest them and a crash would surface only in local sweeps.  This
    test executes each at sf0.001 and pins non-empty output plus a
    stable column set against the registry's own declared schema, so
    a regression fails CI instead of hiding.  Each entry's VALUES are
    covered by its green integer-exact oracle twin
    (similarity_*_exact / multimodal_audio_fp_exact)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    missing = set(ROWS_ONLY_FLOAT_ENTRIES) - set(qs)
    assert not missing, f"registry lost rows-only entries: {missing}"
    # the set must stay exactly the declared one: a new oracle-less
    # entry needs either an oracle or an explicit pin here
    actual_rows_only = {k for k in qs if k not in oracles}
    assert actual_rows_only == set(ROWS_ONLY_FLOAT_ENTRIES), (
        actual_rows_only ^ set(ROWS_ONLY_FLOAT_ENTRIES)
    )
    for name in sorted(ROWS_ONLY_FLOAT_ENTRIES):
        df = qs[name](spark, "/root/testdata/sf0.001")
        rows = df.collect()
        assert rows, f"{name}: empty result at sf0.001"
        assert df.columns == list(rows[0].asDict()), name
        assert all(c == c.lower() for c in df.columns), name

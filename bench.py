"""Benchmark driver: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is timed end-to-end (plan + execute + materialize).  The
headline set spans every engine area: flagship aggregate, star joins,
window, as-of, streaming, dedup, similarity, text analysis — so the
number tracks whole-engine health, not one hot path.

Action protocol (changed round 10): every query materializes through a
can't-prune filter — ``xxhash64`` over every output column ``!= 42`` —
then count().  A bare ``count()`` let Catalyst drop every
cardinality-neutral output expression, and for three entries that
hollowed the whole measurement: ``text_doc_profile`` and
``window_events_suite`` timed a bare scan-count (all profile/window
columns pruned), and ``pandas_udf_token_count`` NEVER RAN its pandas
UDF (the count plan had no Python node at all).  Most entries were
honest by construction (q1's overflow certificate references every
tick sum; top-k/sessionize/dedup counts depend on their computations)
— the old/new like-for-like A/B is recorded in BASELINE.md round-10
notes, so bands stay translatable across the protocol change.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from play_bq_gcp_spark import queries as q
from play_bq_gcp_spark.session import get_spark

def forced_materialization(df):
    """Filter on xxhash64 over every output column, ``!= 42``: a
    can't-prune materialization barrier.  Under a bare count()
    Catalyst drops every cardinality-neutral output expression; this
    filter makes each output value load-bearing while never removing a
    row.  The ONE definition shared by bench.py and
    tools/scaling_probe.py — the BENCH-vs-SCALING comparability
    assumes both use the identical barrier (r10 self-review #6)."""
    return df.filter(
        F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
        != F.lit(42)
    )


HEADLINE = [
    "q1_pricing_summary",
    "agg_group_analytics",
    "agg_distinct_collect",
    "merge_full_upsert",
    "snapshot_delta_events",
    "window_rank_topk",
    "window_events_suite",
    "sessionize_events",
    "asof_join_purchase_click",
    "range_join_price_bands",
    "q3_shipping_priority",
    "q5_region_supplier_volume",
    "skew_salted_suite",
    "udaf_geomean_price",
    "streaming_window_dedup_counts",
    "streaming_stateful_user_stats",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    # r11 verdict #3: one LLM-pipeline heavyweight in the headline set
    # so regressions in the engine's most differentiated operators are
    # visible round-over-round; band recorded in BASELINE.md r12 notes
    "dedup_lines_corpus",
    "similarity_topk_bruteforce",
    # ANN timed per method (r3 review: regressions must be assignable
    # to LSH vs IVF); the combined suite remains the correctness entry
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "text_doc_profile",
    "pandas_udf_token_count",
    "pipeline_corpus_clean",
    "multimodal_suite",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="bench")

    # warm up JVM/codegen/parquet-footer caches AND the Python worker
    # pool (forked once per core, then reused session-wide) so timings
    # reflect steady-state execution, not session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    q.QUERIES["q1_pricing_summary"](spark, sf_dir).count()
    spark.range(256).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # warm the HOF-heavy plan shapes (interpreted higher-order funcs +
    # nested codegen): first-run Catalyst+Janino cost is seconds per
    # family and would otherwise be billed to the first timed run of
    # each.  Generated code embeds the literals, so the k=2 and k=3
    # shingle pipelines and the ANN matrix pass each need their own
    # warm.  Run them at the smallest sf available.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for warm_q in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_lines_corpus",
        "similarity_ann_lsh",
        "similarity_ann_ivf",
        # first createDataFrame (Python local-relation path) and first
        # BroadcastNestedLoopJoin execution each cost ~1.5-2 s of
        # one-time session warmup; without this the band join bills ~3 s
        # of JIT to its timed run (observed 4.4 s first / 0.8 s after)
        "range_join_price_bands",
    ):
        q.QUERIES[warm_q](spark, warm_dir).count()
    # chunk-file landing for the stateful-streaming query is one-time
    # data setup (like fixture generation), not query execution
    from play_bq_gcp_spark.streaming.stateful import _chunked_events_dir

    _chunked_events_dir(spark, sf_dir, 4)

    # Calm-window gate (round-7 protocol hardening): BENCH_r06 recorded
    # 36.9 s purely because the host carried residual load from the
    # previous command — a loaded sample read as a 49% regression until
    # a judge A/B refuted it.  The recorded JSON now carries its own
    # exculpatory evidence: wait (bounded, <=600 s) for 1-min load < 1
    # (SPARK_GRAFT_LOAD_GATE) before pass 1, and record loadavg at the
    # gate and before every pass so any future outlier is attributable
    # from the file alone.
    # r14 protocol hardening (r13 verdict #2): the r13 driver bench ran
    # at 1-min load 6.4-9.3 and manufactured 21 phantom regressions the
    # judge had to refute by hand.  Tightened gate (2.0 -> 1.0, wait
    # 300 s -> 600 s) so a loaded host WAITS rather than records noise.
    gate_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1"))
    gate_wait_max = 600.0
    gate_t0 = time.monotonic()
    waited = 0.0
    # sample load ONCE per iteration so the logged value, the loop
    # condition, and the final timed_out flag all describe the same
    # reading (a dip between two samples used to record timed_out=false
    # after a full 300 s wait under load)
    load1 = os.getloadavg()[0]
    while load1 >= gate_threshold and time.monotonic() - gate_t0 < gate_wait_max:
        print(
            f"# load gate: 1-min load {load1:.2f} >= "
            f"{gate_threshold}, waiting...",
            file=sys.stderr,
        )
        time.sleep(10)
        waited = round(time.monotonic() - gate_t0, 1)
        load1 = os.getloadavg()[0]
    gate = {
        "threshold": gate_threshold,
        "waited_sec": waited,
        "timed_out": load1 >= gate_threshold,
        "loadavg_at_start": [round(x, 2) for x in os.getloadavg()],
    }

    # min-of-N protocol (BASELINE.md round-3): the shared host shows
    # 2-3x load-dependent variance concentrated in whichever queries a
    # spike hits, so a single sample conflates host load with code
    # cost.  Two full passes, per-query minimum; when the two pass
    # totals disagree by >25% a load spike hit one of them, so a third
    # pass runs — the min then almost surely contains a calm sample.
    passes: list[dict[str, float]] = []
    pass_loads: list[list[float]] = []

    def run_pass(p: int) -> None:
        pass_loads.append([round(x, 2) for x in os.getloadavg()])
        t: dict[str, float] = {}
        for name in HEADLINE:
            fn = q.QUERIES[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # can't-prune materialization (see module docstring): the
            # hash filter makes every output column load-bearing, so
            # count() executes the query, not a column-pruned skeleton.
            # SPARK_BENCH_ACTION=count keeps the pre-r10 action for
            # like-for-like protocol A/Bs.
            if os.environ.get("SPARK_BENCH_ACTION") == "count":
                n = df.count()
            else:
                n = forced_materialization(df).count()
            t[name] = round(time.perf_counter() - t0, 3)
            print(
                f"# pass{p + 1} {name}: {t[name]:.3f}s ({n} rows)",
                file=sys.stderr,
            )
        passes.append(t)

    # r14 protocol hardening (r13 verdict #2, additions-only): ALWAYS
    # three passes (the old 2-passes-unless-spread rule could stop at
    # two warm-in samples), then keep sampling while the most recent
    # pass is still the fastest — a descending total means steady state
    # wasn't reached (a freshly booted host read 89/53/45 s across the
    # first three passes of one session) — capped at 5 passes.
    for p in range(3):
        run_pass(p)
    while len(passes) < 5:
        totals = [sum(t.values()) for t in passes]
        if totals[-1] >= min(totals[:-1]):
            break
        print(
            f"# pass totals {['%.1f' % t for t in totals]} still "
            "descending — steady state not reached, running another pass",
            file=sys.stderr,
        )
        run_pass(len(passes))
    timings = {
        name: min(t[name] for t in passes) for name in HEADLINE
    }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "protocol": f"min_of_{len(passes)}_passes",
                "action": (
                    "count"
                    if os.environ.get("SPARK_BENCH_ACTION") == "count"
                    else "xxhash64_forced_count"
                ),
                "pass_totals": [
                    round(sum(t.values()), 3) for t in passes
                ],
                "calm_gate": gate,
                "loadavg_per_pass": pass_loads,
            }
        )
    )


if __name__ == "__main__":
    main()

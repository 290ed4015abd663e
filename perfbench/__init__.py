"""The repository's benchmark: one workload per process, end-to-end
metrics untraced, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 10 --trace 0
    python3 -m pytest perfbench -q          # the benchmark's own tests

``BENCHMARK.json`` at the repository root lists the workloads and
metrics.  Layers are the program's modules; each per-layer metric is
expected to move the end-to-end metric named here, on the workload
named here, and to stay flat on the other:

==========================  ==================================  =================  ===============
layer                       per-layer metrics                   moves              on workload
==========================  ==================================  =================  ===============
session                     session.start_s                     setup_s            both
sources (DataSource, HTTP)  sources.scan_s, sources.rows        call_s, call_cpu_s daily_cycle
plans.pipeline              pipeline.run_daily_s, .self_s,      call_s             daily_cycle
                            .new_games, .time_play
storage.txn_table           storage.merge_dim_s, .append_s,     call_s, call_cpu_s daily_cycle
                            .files_rewritten, .files_carried,
                            .bytes_per_row
catalog                     catalog.read_table_s, _calls        call_s             corpus_curation
queries + Catalyst          queries.<entry>.build_s,            call_s             corpus_curation
                            catalyst.analysis_s,
                            .optimization_s, .planning_s
execution                   queries.<entry>.exec_s, exec.jobs,  call_s, call_cpu_s both
                            .tasks, .task_s, .shuffle_mb,
                            .spill_mb
materialization             mem.cached_mb_peak, mem.jvm_hwm_mb  (memory cost)      corpus_curation
streaming                   streaming.batches, .batch_s,        call_s             corpus_curation
                            .state_commit_s, .state_rows,
                            .outside_batches_s
Python workers              cpu.driver_s, cpu.jvm_s,            call_cpu_s         daily_cycle
                            cpu.pyworker_s                                         (DataSource)
JVM                         jvm.gc_s, jvm.jit_s                 call_cpu_s         both
warm-up                     warmup.first_call_s                 (cold cost)        both
==========================  ==================================  =================  ===============

``trace.overhead_s`` is the traced run's own cost: the median traced
call minus the median untraced call of the same process.
"""

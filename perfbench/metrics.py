"""Names and units of every metric the benchmark reports.

``BENCHMARK.json`` lists the same names; ``run.py`` fills each one in
every run (a layer a workload does not use reports 0).

End-to-end metrics, per workload (``run.py --trace 0``):

- ``setup_s``: ``get_spark`` plus ``registry()``, the median of two cold
  set-ups run one after another: one in a fresh process, then the run's own.
- ``cold_s``: the workload's first unit of work in a fresh session, which
  pays codegen and JIT: the first corpus pass (etl_batch), the first
  ``run_udm_stream`` call (stream_arrivals), the first catalog pass
  (catalog_mix).
- ``warm_s``: the median time to finish one unit once warm: a measured
  corpus pass (etl_batch); one file, from its scheduled arrival to the return of the
  call that committed it (stream_arrivals, the p50 file latency); a
  catalog pass, the sum of the entries' median walls (catalog_mix).
- ``throughput_per_s``: packets per second through the three sinks over a
  warm pass (etl_batch); packets per second draining the burst
  (stream_arrivals); catalog entries per second at the geometric-mean
  entry wall (catalog_mix).

The Spark JVM's peak RSS (VmHWM, ``jvm_peak_rss_mb``) is reported with the
per-layer metrics: with the program's default heap its run-to-run spread
(6-30 % over five seeds) is too wide to bound.
"""

from __future__ import annotations

E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "throughput_per_s": "1/s",
}

# workload-specific end-to-end figures; printed on the detail line of every
# run and reported with the per-layer metrics of the traced run
NAMED = {
    "etl.json_pkts_per_s": "1/s",
    "etl.pcap_pkts_per_s": "1/s",
    "stream.file_latency_p50_s": "s",
    "stream.file_latency_p90_s": "s",
    "stream.latency_samples": "count",
    "stream.drain_pkts_per_s": "1/s",
    "catalog.wall_s": "s",
    "catalog.geomean_ms": "ms",
    "catalog.cold_wall_s": "s",
    "ops_failed_ratio": "ratio",
}

EXEC = {
    "spark.exec.task_run_s": "s",
    "spark.exec.task_cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.shuffle_read_bytes": "B",
    "spark.exec.shuffle_write_bytes": "B",
    "spark.exec.spill_bytes": "B",
    "spark.exec.tasks": "count",
    "spark.exec.tasks_failed": "count",
}

TRIGGER_PHASES = ("addBatch", "queryPlanning", "latestOffset", "getBatch", "walCommit", "commitOffsets")

PER_LAYER = {
    "jvm_peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.registry_s": "s",
    "sources.json_source.scan_s": "s",
    "sources.pcap.decode_s": "s",
    "sources.pcap.python_rows_out": "count",
    "sources.pcap.python_bytes": "B",
    "udm.build_s": "s",
    "udm.build_py4j_calls": "count",
    "udm.project_s": "s",
    "udm.wscg_fallbacks": "count",
    "udm.codegen_compile_failures": "count",
    "etl.write_udm_parquet_s": "s",
    "etl.write_udm_json_array_per_file_s": "s",
    "etl.json_concat_s": "s",
    "etl.per_file_metrics_s": "s",
    "etl.bytes_written_per_input_byte": "ratio",
    "streaming.udm_pipeline.call_s": "s",
    "streaming.udm_pipeline.batches_per_call": "count",
    **{f"streaming.udm_pipeline.trigger_ms.{p}": "ms" for p in TRIGGER_PHASES},
    "stream.gen_lateness_p90_s": "s",
    "stream.backlog_end_files": "count",
    "plans.build_s": "s",
    "plans.build_py4j_calls": "count",
    "plans.build_jobs": "count",
    "plans.analysis_s": "s",
    "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "plans.consume_s": "s",
    **EXEC,
    "trace.overhead_ratio": "ratio",
    "trace.self_time_coverage": "ratio",
    **NAMED,
}

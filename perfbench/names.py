"""Every metric the benchmark reports, with its unit.

Each workload prints all of them: a per-layer metric of a layer the
workload does not exercise reads 0 there (the runner runs no batches
in ``medallion_batch``; no backfill phase runs in ``medallion_stream``).
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "bulk_s": "s",
}

HOPS = ("bronze-hop", "silver-hop", "gold-hop", "serving-hop")
HOP_METRICS = {"batches": "count", "rows_in": "count", "trigger_p50_ms": "ms",
               "addbatch_p50_ms": "ms", "plan_p50_ms": "ms", "list_p50_ms": "ms",
               "commit_p50_ms": "ms", "lag_p50_s": "s"}
PHASES = ("ingest.bronze", "ingest.silver", "operators.temporal",
          "operators.rollup", "operators.custom_metric", "streaming.sinks")
PHASE_METRICS = {"s": "s", "jobs": "count", "executor_cpu_s": "s",
                 "shuffle_mb": "MB", "spill_mb": "MB", "driver_gap_s": "s"}
READS = ("queries.tpch.adhoc_gold_slice", "operators.detect.gap_detect",
         "operators.detect.orphan_usage", "storage.versioned.point_read")
#: registry key -> the module prefix its per-layer metrics carry
CURATION = {
    "streaming_cusum": "pipeline.streaming_cusum",
}
JOB_METRICS = {"s": "s", "jobs": "count", "driver_gap_s": "s",
               "executor_cpu_s": "s", "python_s": "s"}


def per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    for hop in HOPS:
        m.update({f"runner.{hop}.{k}": u for k, u in HOP_METRICS.items()})
    m.update({"runner.jobs": "count", "runner.executor_run_s": "s",
              "runner.executor_cpu_s": "s", "runner.driver_gap_frac": "fraction",
              "bench.gen_late_p90_ms": "ms", "bench.timed_slices": "count",
              "bench.timed_serving_batches": "count"})
    for ph in PHASES:
        m.update({f"{ph}.{k}": u for k, u in PHASE_METRICS.items()})
    m.update({"ingest.bronze.keep_ratio": "fraction",
              "operators.temporal.match_ratio": "fraction",
              "backfill.s": "s", "curation.s": "s"})
    m.update({f"{r}.p50_s": "s" for r in READS})
    m["reads.input_mb_per_query"] = "MB"
    for prefix in CURATION.values():
        m.update({f"{prefix}.{k}": u for k, u in JOB_METRICS.items()})
    m.update({"bench.leaked_tmp_dirs": "count", "bench.trace_overhead_frac": "fraction",
              "bench.peak_rss_mb": "MB"})
    return m

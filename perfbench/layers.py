"""Per-layer metrics of the traced run, and which end-to-end metric each
one should move, on which workload.

A per-layer value is summed over the ops of one traced warm pass (for
``monthly_etl`` a pass is one month) and reported as the median over the
run's traced passes, except where the name says otherwise.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# name -> (unit, what it should move: "<end-to-end metric> on <workload>")
PER_LAYER = {
    # driver-side plan construction
    "session.get_spark_s": ("s", "setup_s on both workloads"),
    "catalog.load_table_s": ("s", "op_s.p50 on query_mix"),
    "catalog.load_table_calls": ("count", "op_s.p50 on query_mix"),
    "plans.construct_s": ("s", "op_s.p50 and cold_pass_s on query_mix (analyst ops); "
                               "op_s.p50 on monthly_etl, where it is the pipeline's "
                               "driver time outside Spark jobs"),
    "plans.py4j_calls": ("count", "op_s.p50 on query_mix and monthly_etl; repeats exactly "
                                  "for one program and seed"),
    "plans.eager_jobs": ("count", "pass_s.p50 on query_mix (CC and graph driver loops); "
                                  "query ops only"),
    # Spark underneath the package
    "spark.catalyst.analysis_s": ("s", "op_s.p50 on monthly_etl (wide plans) and query_mix"),
    "spark.catalyst.optimization_s": ("s", "op_s.p50 on monthly_etl and query_mix"),
    "spark.catalyst.planning_s": ("s", "op_s.p50 on monthly_etl and query_mix"),
    "spark.exec.action_s": ("s", "pass_s.p50 on query_mix (corpus/graph ops): time covered "
                                 "by the Spark jobs of the op's actions"),
    "spark.exec.driver_gap_s": ("s", "op_s.p50 on query_mix: time inside the final action "
                                     "that is neither its Catalyst phases nor its jobs "
                                     "(codegen, AQE re-planning, scheduling, result "
                                     "transfer); query ops only"),
    "spark.exec.tasks": ("count", "pass_s.p50 on query_mix"),
    "spark.exec.task_run_s": ("s", "pass_s.p50 on query_mix"),
    "spark.exec.gc_s": ("s", "pass_s.p50 on query_mix"),
    "spark.exec.shuffle_write_bytes": ("bytes", "pass_s.p50 on query_mix"),
    "spark.exec.shuffle_read_bytes": ("bytes", "pass_s.p50 on query_mix"),
    "spark.exec.spill_bytes": ("bytes", "pass_s.p50 on query_mix"),
    "spark.exec.input_bytes": ("bytes", "pass_s.p50 on query_mix; op_s.p50 on monthly_etl"),
    "spark.cache.persisted_rdds_net": ("count", "peak_rss_mb, and the gap between pass_s.p50 "
                                                "and cold_pass_s, on both workloads"),
    # pipeline and storage
    "pipeline.validate_s": ("s", "op_s.p50 on monthly_etl"),
    "pipeline.validate.py4j_calls": ("count", "op_s.p50 on monthly_etl"),
    "pipeline.ingest_s": ("s", "op_s.p50 on monthly_etl"),
    "pipeline.ingest.py4j_calls": ("count", "op_s.p50 on monthly_etl"),
    "pipeline.aggregate_s": ("s", "op_s.p50 on monthly_etl"),
    "pipeline.aggregate.py4j_calls": ("count", "op_s.p50 on monthly_etl"),
    "sources.write_fact_partitioned_s": ("s", "op_s.p50 on monthly_etl"),
    "sources.append_with_schema_evolution_s": ("s", "op_s.p50 on monthly_etl"),
    "sources.sink_bytes_written": ("bytes", "op_s.p50 on monthly_etl (every update month "
                                            "grows the sink schema)"),
    "sources.write_amplification": ("ratio", "op_s.p50 on monthly_etl: sink bytes written "
                                             "per byte of sink growth"),
    "sources.csv_rows_scanned_per_row_loaded": ("ratio", "op_s.p50 on monthly_etl (ingest "
                                                         "re-reads the whole CSV each month)"),
    "sources.files_per_month_partition": ("count", "space; fact layout at the end of the run"),
    # the trace itself
    "trace.op_s.p50": ("s", "traced op latency; minus the untraced runs' op_s.p50 it is "
                            "the tracing overhead"),
    "trace.unattributed_share": ("ratio", "median share of an op's wall time outside its "
                                          "construct and action steps (query ops) or its "
                                          "three pipeline tasks (monthly_etl)"),
    "trace.self_s.bench": ("s", "benchmark's own time around the ops"),
    "trace.self_s.catalog": ("s", "op_s.p50 on query_mix"),
    "trace.self_s.plans": ("s", "op_s.p50 on query_mix"),
    "trace.self_s.spark": ("s", "pass_s.p50 on query_mix"),
    "trace.self_s.pipeline": ("s", "op_s.p50 on monthly_etl"),
    "trace.self_s.sources": ("s", "op_s.p50 on monthly_etl"),
}

EXEC_KEYS = ("tasks", "task_run_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "input_bytes")
PHASES = ("analysis", "optimization", "planning")


def units() -> dict[str, str]:
    return {k: u for k, (u, _) in PER_LAYER.items()}


def pass_metrics(ops: list[dict], events: dict, tracer) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    m: dict[str, float] = defaultdict(float)
    resid = []
    for r in ops:
        if "s" not in r:
            continue

        def ev(kind, r=r):
            return events.get(f"op{r['idx']}:{kind}", {})

        for kind in r["steps"]:
            for k in EXEC_KEYS:
                m[f"spark.exec.{k}"] += ev(kind).get(k, 0)
        for ph in PHASES:
            m[f"spark.catalyst.{ph}_s"] += r["catalyst"].get(ph, 0.0)
        m["spark.cache.persisted_rdds_net"] += r["persisted_rdds_net"]
        construct = r["steps"].get("plans.construct")
        if construct is not None:                       # a query op
            action = ev("spark.action").get("job_span_s", 0.0)
            m["plans.construct_s"] += construct["s"]
            m["plans.py4j_calls"] += construct["py4j"]
            m["plans.eager_jobs"] += ev("plans.construct").get("jobs", 0)
            m["spark.exec.action_s"] += action
            act = r["steps"]["spark.action"]["s"]
            fc = r["final_catalyst"]
            m["spark.exec.driver_gap_s"] += max(0.0, act - action - fc.get(
                "optimization", 0.0) - fc.get("planning", 0.0))
            resid.append(abs(r["s"] - construct["s"] - act) / r["s"])
            continue
        tasks = 0.0                                     # a pipeline month
        for task in ("validate", "ingest", "aggregate"):
            st, e = r["steps"][f"pipeline.{task}"], ev(f"pipeline.{task}")
            tasks += st["s"]
            m[f"pipeline.{task}_s"] += st["s"]
            m[f"pipeline.{task}.py4j_calls"] += st["py4j"]
            m["plans.construct_s"] += st["s"] - e.get("job_span_s", 0.0)
            m["plans.py4j_calls"] += st["py4j"]
            m["spark.exec.action_s"] += e.get("job_span_s", 0.0)
        resid.append((r["s"] - tasks) / r["s"])
        ing, agg = ev("pipeline.ingest"), ev("pipeline.aggregate")
        written = agg.get("output_bytes", 0)
        growth = r["layer_extra"]["sink_growth_bytes"]
        m["sources.sink_bytes_written"] += written
        m["sources.write_amplification"] += written / growth if growth > 0 else 0.0
        m["sources.csv_rows_scanned_per_row_loaded"] += (
            ing.get("input_records", 0) / max(1, ing.get("output_records", 0)))

    timed = [r for r in ops if "s" in r]
    if timed:
        lo, hi = min(r["t0"] for r in timed), max(r["t1"] for r in timed)
        spans = [s for s in tracer.spans
                 if s["end"] is not None and lo <= s["start"] and s["end"] <= hi]
        for s in spans:
            d = s["end"] - s["start"]
            if s["name"] == "catalog.load_table":
                m["catalog.load_table_s"] += d
                m["catalog.load_table_calls"] += 1
            elif s["name"].startswith("sources."):
                m[f"{s['name']}_s"] += d
        for layer, t in tracer.self_times(spans).items():
            m[f"trace.self_s.{layer}"] += t
    m["trace.unattributed_share"] = statistics.median(resid) if resid else 0.0
    return {k: m.get(k, 0.0) for k in PER_LAYER
            if k not in ("session.get_spark_s", "trace.op_s.p50",
                         "sources.files_per_month_partition")}

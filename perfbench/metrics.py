"""Per-layer metrics of one traced pass.

Every metric in ``PER_LAYER`` is reported for every workload; a layer
the workload does not exercise reports 0. Times are seconds, sizes
MB (10^6 bytes). ``BENCHMARK.json`` lists the same names.
"""

from __future__ import annotations

import statistics

from perfbench import layers as L
from perfbench.workloads import WORKLOADS

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "catalog.load_s": "s",
    "catalog.load_jobs": "jobs/call",
    "catalog.scan_mb": "MB",
    "catalog.scan_rows": "count",
    "catalog.store_s": "s",
    "catalog.write_mb": "MB",
    "queries.build_s": "s",
    "queries.build_eager_s": "s",
    "queries.build_driver_s": "s",
    "queries.build_jobs": "count",
    "queries.build_sql_execs": "count",
    "queries.build_py4j_calls": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.exchanges": "count",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.rows_per_output_row": "ratio",
    "checkpoints.released": "count",
    "checkpoints.release_s": "s",
    "checkpoints.storage_mb": "MB",
    "script.compile_s": "s",
    "script.run_s": "s",
    "script.jobs": "count",
    "script.job_overlap": "ratio",
    "plans.summary_build_s": "s",
    "plans.summary_update_s": "s",
    "plans.summary_rewrite_s": "s",
    "plans.direct_agg_s": "s",
    "plans.rewrite_scan_rows": "count",
    "blockgen.write_s": "s",
    "blockgen.join_exchanges": "count",
    "avroio.store_s": "s",
    "avroio.load_s": "s",
    "stored_mb": "MB",
    "failed_ops": "fraction",
    "oracle.verify_s": "s",
    "trace.overhead": "ratio",
}
ALL_OPS = sorted({op for w in WORKLOADS.values() for op in w.ops + w.traced_only})
PER_LAYER.update({f"op.{name}.s": "s" for name in ALL_OPS})


def per_layer(*, setups, verdicts, verify_s, untraced, untraced_wall_s, cores,
              records, releases, catalog_probe, stored_mb, jobs, stages,
              sql) -> dict[str, tuple[float, str]]:
    ok = [r for r in records if "error" not in r]
    view = L.PassLayers(jobs, stages, sql)
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    m["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    m["session.warm_s"] = statistics.median(s["warm_s"] for s in setups)

    probe_jobs = view.jobs_of(catalog_probe["group"], catalog_probe["window"])
    m["catalog.load_s"] = L.TRACER.total("catalog.load")
    m["catalog.load_jobs"] = len(probe_jobs) / catalog_probe["calls"]
    m["catalog.store_s"] = L.TRACER.total("catalog.store")

    rows_in = rows_out = 0
    for r in ok:
        b_jobs, b_stages, b_sql = view.layer(r, "build")
        e_jobs, e_stages, e_sql = view.layer(r, "exec")
        eager = L.covered_s([
            (max(a, r["build_window"][0] * 1000), min(b, r["build_window"][1] * 1000))
            for a, b in L.job_intervals(b_jobs)
        ])
        m["queries.build_s"] += r["build_s"]
        m["queries.build_eager_s"] += eager
        m["queries.build_jobs"] += len(b_jobs)
        m["queries.build_sql_execs"] += len(b_sql)
        m["queries.build_py4j_calls"] += r["py4j_calls"]
        m["exec.s"] += r["exec_s"]
        m["exec.jobs"] += len(e_jobs)
        m["exec.stages"] += len(e_stages)
        m["exec.tasks"] += L.stage_sum(e_stages, "numCompleteTasks")
        plans = [L.final_plan_nodes(e.get("physicalPlanDescription") or "") for e in e_sql]
        m["exec.exchanges"] += sum(L.count_exchanges(p) for p in plans)
        m["exec.shuffle_write_mb"] += L.stage_sum(e_stages, "shuffleWriteBytes") / 1e6
        m["exec.shuffle_read_mb"] += L.stage_sum(e_stages, "shuffleReadBytes") / 1e6
        m["exec.fetch_wait_s"] += L.stage_sum(e_stages, "shuffleFetchWaitTime") / 1e3
        m["exec.spill_mb"] += L.stage_sum(e_stages, "diskBytesSpilled") / 1e6
        m["exec.executor_run_s"] += L.stage_sum(e_stages, "executorRunTime") / 1e3
        m["exec.executor_cpu_s"] += L.stage_sum(e_stages, "executorCpuTime") / 1e9
        m["exec.gc_s"] += L.stage_sum(e_stages, "jvmGcTime") / 1e3
        rows_in += L.stage_sum(e_stages, "inputRecords")
        rows_in += L.stage_sum(e_stages, "shuffleReadRecords")
        rows_out += verdicts.get(r["op"], {}).get("rows", 0)
        # Spark's per-task input byte counter misses vectorized parquet
        # reads, so scanned bytes come from the scan nodes' file sizes
        m["catalog.scan_mb"] += L.sql_size_mb(b_sql + e_sql, "size of files read")
        for stages_ in (b_stages, e_stages):
            m["catalog.scan_rows"] += L.stage_sum(stages_, "inputRecords")
            m["catalog.write_mb"] += L.stage_sum(stages_, "outputBytes") / 1e6
        m[f"op.{r['op']}.s"] = r["build_s"] + r["exec_s"]
        if r["op"] == "blockgen_cust_join":
            m["blockgen.join_exchanges"] = sum(L.join_shuffles(p) for p in plans)
        if r["op"] == "summary_incremental":
            m["plans.summary_rewrite_s"] = L.TRACER.total("plans.summary_rewrite") + r["exec_s"]
            m["plans.rewrite_scan_rows"] = L.stage_sum(e_stages, "inputRecords")
        if r["op"] == "summary_direct":
            m["plans.direct_agg_s"] = r["build_s"] + r["exec_s"]
        if r["op"] == "store_avro":
            m["avroio.load_s"] = r["exec_s"]

    m["queries.build_driver_s"] = m["queries.build_s"] - m["queries.build_eager_s"]
    if m["exec.s"]:
        m["exec.core_util"] = m["exec.executor_run_s"] / (m["exec.s"] * cores)
    m["exec.rows_per_output_row"] = rows_in / max(rows_out, 1)

    m["checkpoints.released"] = sum(r["released"] for r in releases)
    m["checkpoints.release_s"] = sum(r["release_s"] for r in releases)
    m["checkpoints.storage_mb"] = sum(r["storage_mb"] for r in releases)

    m["script.compile_s"] = L.TRACER.total("script.compile")
    m["script.run_s"] = L.TRACER.total("script.run")
    script_jobs = [j for w in L.TRACER.windows("script.run") for j in view.jobs_in(w)]
    m["script.jobs"] = len(script_jobs)
    if m["script.run_s"]:
        m["script.job_overlap"] = sum(
            (b - a) / 1000 for a, b in L.job_intervals(script_jobs)
        ) / m["script.run_s"]
    m["plans.summary_build_s"] = L.TRACER.total("plans.summary_build")
    m["plans.summary_update_s"] = L.TRACER.total("plans.summary_update")
    m["blockgen.write_s"] = L.TRACER.total("blockgen.write")
    m["avroio.store_s"] = L.TRACER.total("avroio.store")

    m["stored_mb"] = stored_mb
    m["failed_ops"] = (
        sum(not v["ok"] for v in verdicts.values()) + len(records) - len(ok)
    ) / (len(verdicts) + len(records))
    m["oracle.verify_s"] = verify_s
    traced_wall = sum(r["build_s"] + r["exec_s"] for r in ok if r["op"] in untraced)
    m["trace.overhead"] = traced_wall / untraced_wall_s - 1
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}

"""Per-layer metrics from the spans of traced passes joined with the
status store's jobs and stages. Every metric is computed per pass and
reported as the median over the traced passes; a metric whose layer a
workload does not call reads 0 there.
"""

from __future__ import annotations

import statistics

from layers import Span, Tracer, cpu_delta, union_s

PER_LAYER_UNITS = {
    "pass_s": "s", "cpu_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "session.driver_gap_s": "s", "session.driver_py_cpu_s": "s",
    "session.persisted_rdds_left": "count", "session.jvm_peak_rss_mb": "MB",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.in_jobs_s": "s", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.task_wait_ratio": "ratio",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.jvm_cpu_s": "s",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "sources.scan_tasks": "count",
    "pyworkers.cpu_s": "s", "pyworkers.started": "count",
    "streaming.lsh_ingest_s": "s", "streaming.ingest_jobs": "count",
    "streaming.admit_ratio": "ratio", "streaming.ingest_docs_s": "1/s",
    "similarity.append_s": "s", "similarity.probe_jobs": "count",
    "similarity.probe_p50_s": "s",
    "similarity.probe_rows_per_result": "ratio",
    "sinks.upsert_s": "s", "sinks.bytes_written": "bytes",
    "sinks.files_written": "count", "sinks.write_amp": "ratio",
    "trace.overhead_s": "s",
}


def _dur(spans: list[Span]) -> float:
    return sum(s.end - s.start for s in spans)


def _jobs_in(jobs: list[dict], spans: list[Span]) -> list[dict]:
    return [j for j in jobs for s in spans
            if s.start * 1000 - 1 <= j["submissionTime"] <= s.end * 1000 + 1]


def _stages_in(stages: dict[int, dict], jobs: list[dict]) -> list[dict]:
    ids = {sid for j in jobs for sid in j["stageIds"]}
    return [stages[i] for i in sorted(ids) if i in stages]


def _job_time(jobs: list[dict], span: Span) -> float:
    """Seconds of ``span`` during which at least one job ran."""
    return union_s([(max(j["submissionTime"] / 1000, span.start),
                     min(j["completionTime"] / 1000, span.end))
                    for j in jobs if j.get("completionTime")])


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def op_table(tracer: Tracer, p) -> list[dict]:
    """One row per op span of a traced pass."""
    stages = {s["stageId"]: s for s in p.stages}
    rows = []
    for root in (s for s in tracer.spans
                 if s.name == "pass" and p.t0 <= s.start <= p.t1):
        for op in tracer.children(root):
            jobs = _jobs_in(p.jobs, [op])
            st = _stages_in(stages, jobs)
            in_jobs = _job_time(jobs, op)
            rows.append({
                "op": op.op, "span": op.name, "wall_s": op.end - op.start,
                "jobs": len(jobs), "in_jobs_s": in_jobs,
                "driver_gap_s": op.end - op.start - in_jobs,
                "task_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
                "task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                           for s in st),
                "input_rows": sum(s["inputRecords"] for s in st),
                "children": {c.name: c.end - c.start
                             for c in tracer.children(op)},
            })
    return rows


def pass_layers(tracer: Tracer, p) -> dict[str, float]:
    spans = [s for s in tracer.spans if p.t0 <= s.start <= p.t1]
    named = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)
    ops = [s for s in spans
           if s.parent is not None and tracer.spans[s.parent].name == "pass"]
    probes = [s for s in ops if s.name.startswith("probe")]
    st = p.stages
    cpu = cpu_delta(p.cpu0, p.cpu1)
    sum_st = lambda k, rows=st: sum(s[k] for s in rows)  # noqa: E731
    stages = {s["stageId"]: s for s in st}
    in_jobs = sum(_job_time(_jobs_in(p.jobs, [op]), op) for op in ops)
    task_run = sum_st("executorRunTime") / 1e3
    task_cpu = sum_st("executorCpuTime") / 1e9
    scans = [s for s in st if s["inputBytes"] or s["inputRecords"]]
    upsert = _stages_in(stages, _jobs_in(
        p.jobs, named.get("sinks.upsert_by_key", [])))
    probe_stages = _stages_in(stages, _jobs_in(p.jobs, probes))
    written = sum_st("outputBytes", upsert)
    x = p.extra
    return {
        "pass_s": p.wall,
        "cpu_s": cpu["tree"],
        "operators.build_s": _dur(named.get("registry.build", [])),
        "operators.build_jobs": len(_jobs_in(
            p.jobs, named.get("registry.build", []))),
        "session.driver_gap_s": _dur(ops) - in_jobs,
        "session.driver_py_cpu_s": cpu["driver_py"],
        "session.persisted_rdds_left": p.persisted_left,
        "spark.stages": len(st),
        "spark.tasks": sum_st("numCompleteTasks"),
        "spark.in_jobs_s": in_jobs,
        "spark.task_run_s": task_run,
        "spark.task_cpu_s": task_cpu,
        "spark.task_wait_ratio": 1 - task_cpu / task_run if task_run else 0.0,
        "spark.gc_s": sum_st("jvmGcTime") / 1e3,
        "spark.shuffle_read_bytes": sum_st("shuffleReadBytes"),
        "spark.shuffle_write_bytes": sum_st("shuffleWriteBytes"),
        "spark.spill_bytes": sum_st("diskBytesSpilled"),
        "spark.jvm_cpu_s": cpu["jvm"],
        "sources.input_bytes": sum_st("inputBytes"),
        "sources.input_rows": sum_st("inputRecords"),
        "sources.scan_tasks": sum_st("numCompleteTasks", scans),
        "pyworkers.cpu_s": cpu["pyworkers"],
        "pyworkers.started": len((p.pids | set(p.cpu1["pids"]))
                                 - set(p.cpu0["pids"])),
        "streaming.lsh_ingest_s": _dur(named.get(
            "streaming.lsh_ingest_stream", [])),
        "streaming.ingest_jobs": len(_jobs_in(
            p.jobs, named.get("streaming.lsh_ingest_stream", []))),
        "streaming.admit_ratio": _ratio(x.get("admitted", 0),
                                        x.get("offered", 0)),
        "streaming.ingest_docs_s": _ratio(x.get("offered", 0), p.wall),
        "similarity.append_s": _dur(named.get(
            "similarity.ivfpq_index_append", [])),
        "similarity.probe_jobs": _ratio(len(_jobs_in(p.jobs, probes)),
                                        len(probes)),
        "similarity.probe_p50_s": (statistics.median(
            s.end - s.start for s in probes) if probes else 0.0),
        "similarity.probe_rows_per_result": _ratio(
            sum_st("inputRecords", probe_stages), x.get("result_rows", 0)),
        "sinks.upsert_s": _dur(named.get("sinks.upsert_by_key", [])),
        "sinks.bytes_written": written,
        "sinks.files_written": x.get("files_written", 0),
        "sinks.write_amp": _ratio(written, x.get("delta_bytes", 0)),
    }


def per_layer(tracer: Tracer, passes: list,
              jvm_peak_rss_mb: float) -> dict[str, dict]:
    traced = [p for p in passes if p.traced]
    rows = [pass_layers(tracer, p) for p in traced]
    values = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    values["trace.overhead_s"] = statistics.median(p.trace_s for p in traced)
    values["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
            for k, v in values.items()}


def pass_record(p) -> dict:
    """What the side file keeps of one pass."""
    return {"traced": p.traced, "wall_s": p.wall,
            "cpu_s": cpu_delta(p.cpu0, p.cpu1), "jobs": len(p.jobs),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                       for s in p.stages),
            "calls_s": p.calls, "attempted": p.attempted,
            "failures": p.failures, "extra": p.extra}

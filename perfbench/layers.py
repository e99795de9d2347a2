"""Per-layer metrics of one traced pass.

Spans come from ``tracing.Tracer``; jobs, stages and task metrics from
Spark's event log. A job belongs to the operation (and to every span)
whose interval holds its submission time. Operations run one at a time,
so this survives concurrency waves, whose threads may drop job-group
tags; for each operation the jobs counted this way must also be exactly
the job ids between its first and last one, which is checked.
"""

from __future__ import annotations

import json
import os
import statistics

from tracing import SINK_SPANS, WAVE_SPANS, covered, read_event_log, self_times

# clock slack between Python's time.time() and the JVM's millisecond
# event timestamps
SLACK_S = 0.002

SELF_TIME_SPANS = (
    "op", "workloads.build", "spark.noop_write", "sources.load_table",
    "sources.read_csv_tolerant", "sources.write_parquet", "sources.write_csv_pbi",
    "operators.concurrency.ckpt_wave", "operators.concurrency.run_concurrent",
    "etl.run_pipeline", "etl.preprocess", "etl.gerar_tabelas", "etl.relatorio",
)


def _within(t: float, spans) -> bool:
    return any(s.start - SLACK_S <= t <= s.end + SLACK_S for s in spans)


def per_layer(tracer, event_log, app_id, wl, traced_s, untraced_s, reps, dump_path):
    """Return ``(metrics, detail)``: metrics maps name → (value, unit)."""
    spans = [s for s in tracer.spans if s.end]
    jobs, stages = read_event_log(event_log, app_id)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ops = by_name.get("op", [])

    def dur(name):
        return sum(s.end - s.start for s in by_name.get(name, []))

    def jobs_in(names):
        sel = [s for n in names for s in by_name.get(n, [])]
        return [j for j in jobs.values() if _within(j.submit, sel)]

    # -- job attribution, checked against job-id ranges ------------------
    op_jobs = {s.id: [j for j in jobs.values() if _within(j.submit, [s])] for s in ops}
    attribution = []
    for s in ops:
        ids = sorted(j.id for j in op_jobs[s.id])
        if ids and len(ids) != ids[-1] - ids[0] + 1:
            attribution.append(f"{s.attrs['query']}: {len(ids)} jobs counted in "
                               f"id range {ids[0]}..{ids[-1]}")
    pass_jobs = [j for js in op_jobs.values() for j in js]
    pass_ids = {j.id for j in pass_jobs}
    if len(pass_ids) != len(pass_jobs):
        attribution.append("a job fell in two operations' windows")
    first_op, last_op = min(s.start for s in ops), max(s.end for s in ops)
    stray = [j.id for j in jobs.values()
             if first_op <= j.submit <= last_op and j.id not in pass_ids]

    # -- Spark engine ----------------------------------------------------
    stage_ids = {sid for j in pass_jobs for sid in j.stages}
    ran = [stages[sid] for sid in stage_ids if sid in stages]

    def total(key):
        return sum(st[key] for st in ran)

    busy = 0.0
    gap = 0.0
    for s in ops:
        clipped = [(max(j.submit, s.start), min(j.end or s.end, s.end)) for j in op_jobs[s.id]]
        clipped = [(a, b) for a, b in clipped if b > a]
        run_s = covered(clipped)
        busy += run_s
        gap += (s.end - s.start) - run_s

    sinks = [s for n in SINK_SPANS for s in by_name.get(n, [])]
    load = by_name.get("sources.load_table", [])
    load_jobs = jobs_in(["sources.load_table"])
    zero_job = sum(1 for s in load if not any(_within(j.submit, [s]) for j in load_jobs))
    waves = [s for n in WAVE_SPANS for s in by_name.get(n, [])]

    # -- self times --------------------------------------------------------
    selfs = self_times(spans)
    self_by_name: dict[str, float] = {}
    for s in spans:
        self_by_name[s.name] = self_by_name.get(s.name, 0.0) + selfs[s.id]
    wall = last_op - first_op

    m = {
        # the first set-up also launches the JVM; PREPARES are memoized
        # per process, so their work is the sum over the set-ups
        "session.get_spark_s": (statistics.median(r["get_spark_s"] for r in reps), "s"),
        "session.get_spark_cold_s": (reps[0]["get_spark_s"], "s"),
        "setup.prepares_s": (sum(r["prepares_s"] for r in reps), "s"),
        "sources.load_table.calls": (len(load), "count"),
        "sources.load_table.s": (dur("sources.load_table"), "s"),
        "sources.load_table.jobs": (len(load_jobs), "count"),
        "sources.load_table.zero_job_ratio": (zero_job / len(load) if load else 0.0, "ratio"),
        "workloads.build.s": (dur("workloads.build"), "s"),
        "workloads.build.jobs": (len(jobs_in(["workloads.build"])), "count"),
        "spark.catalyst.analysis_ms": (wl.catalyst.get("analysis", 0.0), "ms"),
        "spark.catalyst.optimization_ms": (wl.catalyst.get("optimization", 0.0), "ms"),
        "spark.catalyst.planning_ms": (wl.catalyst.get("planning", 0.0), "ms"),
        "spark.driver_gap_s": (gap, "s"),
        "spark.action.s": (busy, "s"),
        "spark.jobs": (len(pass_jobs), "count"),
        "spark.stages": (len(ran), "count"),
        "spark.stages_skipped": (len(stage_ids) - len(ran), "count"),
        "spark.tasks": (total("tasks"), "count"),
        "spark.executor_run_ms": (total("executor_run_ms"), "ms"),
        "spark.executor_cpu_ms": (total("executor_cpu_ms"), "ms"),
        "spark.gc_ms": (total("gc_ms"), "ms"),
        "spark.shuffle_read_bytes": (total("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (total("spill_bytes"), "bytes"),
        "spark.peak_exec_mem_bytes": (max([st["peak_exec_mem_bytes"] for st in ran] or [0]),
                                      "bytes"),
        "operators.concurrency.waves": (len(waves), "count"),
        "operators.concurrency.wave_s": (covered([(s.start, s.end) for s in waves]), "s"),
        "operators.concurrency.branches": (sum(s.attrs.get("branches", 0) for s in waves),
                                           "count"),
        "sources.read_csv_tolerant.s": (dur("sources.read_csv_tolerant"), "s"),
        "sources.read_csv_tolerant.jobs": (len(jobs_in(["sources.read_csv_tolerant"])), "count"),
        "etl.preprocess.s": (dur("etl.preprocess"), "s"),
        "etl.gerar_tabelas.s": (dur("etl.gerar_tabelas"), "s"),
        "sources.write_parquet.s": (dur("sources.write_parquet"), "s"),
        "sources.write_csv_pbi.s": (dur("sources.write_csv_pbi"), "s"),
        "sources.sinks.jobs": (len(jobs_in(SINK_SPANS)), "count"),
        "sources.sinks.bytes_written": (sum(s.attrs["bytes"] for s in sinks), "bytes"),
        "sources.sinks.files_written": (sum(s.attrs["files"] for s in sinks), "count"),
        "etl.relatorio.s": (dur("etl.relatorio"), "s"),
        "etl.relatorio.jobs": (len(jobs_in(["etl.relatorio"])), "count"),
        "trace.pass_s": (traced_s, "s"),
        "trace.untraced_pass_s": (untraced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
    }
    for name in SELF_TIME_SPANS:
        m[f"{name}.self_s"] = (self_by_name.get(name, 0.0), "s")

    os.makedirs(os.path.dirname(dump_path), exist_ok=True)
    with open(dump_path, "w") as f:
        json.dump({
            "wall_s": wall,
            "spans": [dict(id=s.id, name=s.name, parent=s.parent, op=s.op, start=s.start,
                           end=s.end, self_s=selfs[s.id], **s.attrs) for s in spans],
            "jobs": [dict(id=j.id, submit=j.submit, end=j.end, stages=j.stages)
                     for j in sorted(jobs.values(), key=lambda j: j.id)],
        }, f)
    detail = {
        "span_dump": os.path.relpath(dump_path),
        "spans": len(spans),
        "wall_s": wall,
        "self_sum_s": sum(selfs.values()),
        "attribution_problems": attribution,
        "stray_jobs": stray,
        "attribution_checked": len(ops),
        "attribution_failures": len(attribution),
    }
    return m, detail

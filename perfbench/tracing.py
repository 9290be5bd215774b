"""Per-layer metrics of a traced run.

Joins three records, all kept in memory until the run's passes end:

* the benchmark's spans (``measure.Tracer``) around the calls into each
  engine layer, tagged with the op they belong to;
* Spark's UI REST records (``jobs``, ``stages``, ``sql``), attributed to
  ops through the job group each op runs under (``<op>|build`` while
  its query builder runs, ``<op>|run`` after);
* ``CodegenMetrics`` snapshots taken after every pass.

Each per-layer metric is the median, over the traced steady passes, of
the per-pass total; the set-up metrics are the run's one cold set-up
and the codegen metrics cover the first pass. Everything, with per-op
breakdowns, is written to ``perfbench/out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from urllib.parse import urlparse

import measure

PYTHON_METRICS = {
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
# a job submitted this close to a loop span's edge still belongs to it
# (REST timestamps have millisecond resolution)
EDGE_S = 0.002


def _rest_records(spark) -> tuple[list, list, list]:
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    # the status store is fed asynchronously: wait until no job is running
    deadline = time.time() + 20
    while True:
        jobs = measure.rest_get(base, "jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.1)
    stages = measure.rest_get(base, "stages")
    sql = measure.rest_get(base, "sql?details=true&planDescription=false"
                                 "&offset=0&length=1000000")
    return jobs, stages, sql


def op_exec(t0: float, t2: float, jobs: list[dict], attempts: dict) -> dict:
    """Job, stage and task totals of one op from its REST records."""
    sids = {sid for j in jobs for sid in j["stageIds"]}
    ran = [a for sid in sids for a in attempts.get(sid, []) if a["status"] != "SKIPPED"]
    ran_ids = {a["stageId"] for a in ran}
    spans = []
    for a in ran:
        s = measure.parse_rest_time(a.get("submissionTime"))
        e = measure.parse_rest_time(a.get("completionTime"))
        if s is not None and e is not None:
            spans.append((max(s, t0), min(e, t2)))
    wall = measure.union_length([(s, e) for s, e in spans if e > s])
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(ran_ids),
        "exec.skipped_stages": len(sids - ran_ids),
        "exec.tasks": sum(a.get("numCompleteTasks", 0) for a in ran),
        "exec.stage_wall_s": wall,
        "exec.driver_gap_s": (t2 - t0) - wall,
        "exec.task_run_s": sum(a.get("executorRunTime", 0) for a in ran) / 1e3,
        "exec.task_cpu_s": sum(a.get("executorCpuTime", 0) for a in ran) / 1e9,
        "exec.input_bytes": sum(a.get("inputBytes", 0) for a in ran),
        "exec.shuffle_read_bytes": sum(a.get("shuffleReadBytes", 0) for a in ran),
        "exec.shuffle_write_bytes": sum(a.get("shuffleWriteBytes", 0) for a in ran),
        "exec.spill_bytes": sum(a.get("diskBytesSpilled", 0) for a in ran),
    }


def python_metrics(executions: list[dict]) -> dict:
    """Python-worker SQL metrics summed over ``executions``."""
    out = {"pyworker.bytes_sent": 0.0, "pyworker.bytes_returned": 0.0,
           "pyworker.rows_returned": 0.0}
    for ex in executions:
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            python_node = any(k in metrics for k in PYTHON_METRICS)
            for name, value in metrics.items():
                if name in PYTHON_METRICS:
                    out[PYTHON_METRICS[name]] += measure.parse_metric_value(value)
                elif python_node and name == "number of output rows":
                    out["pyworker.rows_returned"] += measure.parse_metric_value(value)
    return out


def collect(bench) -> dict:
    """The per-layer metrics of ``bench``'s passes; also writes the trace
    file."""
    jobs, stages, sql = _rest_records(bench.spark)
    by_group = defaultdict(list)
    for j in jobs:
        if j.get("jobGroup"):
            by_group[j["jobGroup"]].append(j)
    attempts = defaultdict(list)
    for a in stages:
        attempts[a["stageId"]].append(a)
    op_of_job = {j["jobId"]: g.rsplit("|", 1)[0] for g, js in by_group.items() for j in js}
    executions = defaultdict(list)
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        op = next((op_of_job[i] for i in ids if i in op_of_job), None)
        if op is not None:
            executions[op].append(ex)
    tracer = bench.tracer
    spans_by_op = defaultdict(list)
    for s in tracer.spans:
        spans_by_op[s.op].append(s)
    checkpoints = defaultdict(int)
    for _, op in bench.checkpoint_log:
        checkpoints[op] += 1

    def unit_record(op_id: str, t0: float, t2: float) -> dict:
        build = by_group.get(f"{op_id}|build", [])
        run = by_group.get(f"{op_id}|run", [])
        rec = op_exec(t0, t2, build + run, attempts)
        rec.update(python_metrics(executions.get(op_id, [])))
        loops = [s for s in spans_by_op.get(op_id, []) if s.name.startswith("loop.")]
        loop_jobs = [j for j in build + run
                     if any(s.start - EDGE_S <= measure.parse_rest_time(j["submissionTime"])
                            <= s.end + EDGE_S for s in loops)]
        rec.update({
            "plans.build_jobs": len(build),
            "loop.calls": len(loops),
            "loop.s": sum(s.end - s.start for s in loops),
            "loop.jobs": len(loop_jobs),
            "loop.checkpoints": checkpoints.get(op_id, 0),
        })
        for name in ("sinks.append_dedup", "sinks.write", "sinks.audit", "pipeline.run",
                     "catalog.readback"):
            rec[f"{name}_s"] = sum(s.end - s.start for s in spans_by_op.get(op_id, [])
                                   if s.name == name)
        return rec

    ops_out, per_pass = [], []
    for p in bench.passes:
        totals: dict[str, float] = defaultdict(float)
        for op in p.ops:
            rec = unit_record(op.id, op.t0, op.t2) if p.traced else {}
            rec.update({"latency_s": op.latency, "build_s": op.t1 - op.t0,
                        **{f"catalyst.{k}_s": v for k, v in op.phases.items()}})
            for k, v in rec.items():
                totals[k] += v
            ops_out.append({"op": op.id, "pass": p.no, "traced": p.traced,
                            "error": op.error, **rec})
        totals["plans.build_s"] = totals.pop("build_s", 0.0)
        if "results" in p.extra:
            runs = [op for op in p.ops if op.sample]
            totals["pipeline.jobs_per_run"] = sum(
                len(by_group.get(f"{op.id}|run", [])) for op in runs) / len(runs)
            statuses = [s for s, _ in p.extra["results"]]
            for st in ("success", "skipped", "partial", "failure"):
                totals[f"pipeline.status_{st}"] = statuses.count(st)
            files, size = measure.parquet_stats(p.extra["sinks"].values())
            totals["sinks.files_written"] = files
            totals["sinks.bytes_written"] = size
            totals["sinks.rows_kept_ratio"] = len(bench.plan.kept) / bench.plan.offered
        totals["loop.jobs_per_checkpoint"] = (
            totals.get("loop.jobs", 0) / totals["loop.checkpoints"]
            if totals.get("loop.checkpoints") else 0.0)
        per_pass.append({"pass": p.no, "traced": p.traced, "wall_s": p.wall,
                         "codegen": p.extra.get("codegen"), **totals})

    traced = [pp for pp in per_pass[1:] if pp["traced"]]
    untraced = [pp for pp in per_pass[1:] if not pp["traced"]]
    keys = {k for pp in traced for k in pp if isinstance(pp[k], (int, float))
            and k not in ("pass", "traced", "wall_s")}
    layer = {k: statistics.median([pp.get(k, 0.0) for pp in traced]) for k in keys}
    layer["trace.overhead_s"] = (statistics.median([pp["wall_s"] for pp in traced])
                                 - statistics.median([pp["wall_s"] for pp in untraced]))
    (n0, _), (n1, mean_ms) = bench.codegen_start, per_pass[0]["codegen"]
    layer["codegen.compiles"] = n1 - n0
    layer["codegen.compile_s"] = (n1 - n0) * mean_ms / 1e3

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{bench.workload.name}-s{bench.args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": bench.workload.name, "seed": bench.args.seed,
                   "inputs": bench.inputs, "setup": bench.setup_parts,
                   "self_times_s": tracer.self_times(), "per_layer": layer,
                   "passes": per_pass, "ops": ops_out, "spans": tracer.dump()},
                  f, indent=1, default=str)
    return layer

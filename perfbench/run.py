#!/usr/bin/env python3
"""Benchmark runner for the engine's read and write paths.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

The benchmark's own tests: ``python3 -m pytest perfbench -q``.

One run, in one process with one client on ``local[nproc]``:

1. generates the workload's inputs from ``--seed`` under ``perfbench/_work``,
   in a child process;
2. sets up: JVM and session start, query registry load, warm-up op;
   ``setup_s`` runs from the start of this process to the end of the
   warm-up, less the time spent generating inputs;
3. runs a first pass over the workload's ops in the fresh process; in the
   read workload it writes each query's output to parquet, as a batch
   job would, where later passes write to the noop sink;
4. runs further passes back to back (a closed loop) until ``--seconds``
   have passed since the first of them started, then reads the peak RSS;
5. checks every op's output against a reference, outside the timed
   passes: DuckDB running the query's oracle SQL on the same parquet for
   the read workloads (compared with the first pass's output files,
   whose size gives ``stored_bytes_per_row``), the generator's
   expectations for the ingest one, which also runs its empty-payload
   call here.

Before the result, stdout carries one ``perfbench metric`` line per
end-to-end metric (value, unit, the samples behind it, and
``op_fail_ratio``) and a ``perfbench summary`` JSON line with the input
sizes, pass and op times, host CPU steal and any failures. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``failed`` counts every op that raised or whose output
differs from its reference; ``correct`` is false when any of them is not
a known engine defect whose model (``oracle.KNOWN_DEFECTS``) reproduces
the difference exactly. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run also records spans around
the calls into each engine layer plus Spark's own job, stage, SQL and
codegen counters, reports the per-layer metrics, and writes spans and
per-op breakdowns to ``perfbench/out/trace-<workload>-s<seed>.json``.
In a traced run the steady passes alternate untraced and traced, and
``trace.overhead_s`` is the difference of their medians.

Exit status is 0 when a result line was printed, 2 when the engine or
its dependencies cannot be imported, 1 on any other error.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.append(ROOT)

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

# JVM heap of the local-mode Spark process; the engine's 24g default
# assumes a far larger host than the 4-core, 15 GB one this is sized for.
JVM_HEAP = "2g"
# Spark UI retention in traced runs, so the REST records of every op of
# a run are still there when they are read at its end.
TRACE_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}
# benchmark output only: no console progress bars on stderr
BASE_CONF = {"spark.ui.showConsoleProgress": "false"}
LOOP_FUNCTIONS = (
    ("flight_data_pipeline_spark.operators.graph", "pagerank"),
    ("flight_data_pipeline_spark.operators.graph", "pagerank_integer"),
    ("flight_data_pipeline_spark.operators.graph", "label_propagation_integer"),
    ("flight_data_pipeline_spark.operators.graph", "min_plus_shortest_paths"),
    ("flight_data_pipeline_spark.operators.dedup", "connected_components"),
)
ETL_FUNCTIONS = (
    ("flight_data_pipeline_spark.sources.rest_json", "payload_df", "sources.rest_json"),
    ("flight_data_pipeline_spark.sources.rest_json", "parse_intensity", "sources.rest_json"),
    ("flight_data_pipeline_spark.sources.rest_json", "parse_generation_mix", "sources.rest_json"),
    ("flight_data_pipeline_spark.operators.quality", "quality_gate", "operators.quality"),
)
ETL_METHODS = (
    ("TelemetrySink", "append_dedup", "sinks.append_dedup"),
    ("TelemetrySink", "append", "sinks.write"),
    ("ParquetSink", "append", "sinks.write"),
    ("AuditSink", "log_run", "sinks.audit"),
)
PER_LAYER = (
    "session.start_s", "registry.load_s", "warmup_s",
    "plans.build_s", "plans.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s",
    "exec.jobs", "exec.stages", "exec.skipped_stages", "exec.tasks",
    "exec.driver_gap_s", "exec.stage_wall_s", "exec.task_run_s", "exec.task_cpu_s",
    "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "pyworker.bytes_sent", "pyworker.bytes_returned", "pyworker.rows_returned",
    "loop.calls", "loop.s", "loop.jobs", "loop.checkpoints", "loop.jobs_per_checkpoint",
    "pipeline.run_s", "pipeline.jobs_per_run",
    "pipeline.status_success", "pipeline.status_skipped",
    "pipeline.status_partial", "pipeline.status_failure",
    "sinks.append_dedup_s", "sinks.write_s", "sinks.audit_s",
    "sinks.files_written", "sinks.bytes_written", "sinks.rows_kept_ratio",
    "catalog.readback_s", "trace.overhead_s",
)
def unit_of(name: str) -> str:
    if name == "stored_bytes_per_row":
        return "bytes/row"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


@dataclass
class Op:
    """One op, or (``sample`` False) an ingest step that is checked but
    is no latency sample: the backfill, the read-back, the edge call."""
    id: str
    name: str
    sample: bool = True
    t0: float = 0.0
    t1: float = 0.0     # the query builder returned
    t2: float = 0.0
    error: str | None = None
    known_defect: bool = False  # the error is a named, modelled engine defect
    phases: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.t2 - self.t0


@dataclass
class Pass:
    no: int
    traced: bool
    start: float
    end: float = 0.0
    ops: list[Op] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Bench:
    """One benchmark run; owns its work directory, session and tracer."""

    def __init__(self, args):
        self.args = args
        self.workload = workloads.WORKLOADS[args.workload]
        self.reads = isinstance(self.workload, workloads.ReadWorkload)
        self.work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.tracer = measure.Tracer(enabled=False)
        self.trace = bool(args.trace)
        self.spark = None
        self.jvm_proc = None
        self.setup_parts: dict = {}
        self.inputs: dict = {}
        self.passes: list[Pass] = []
        self.edge_ops: list[Op] = []
        self.mismatches: dict[str, str] = {}
        self.checkpoint_log: list[tuple[float, str | None]] = []
        self.codegen_start: tuple[int, float] = (0, 0.0)
        self.notes: dict = {}
        self.plan: gen.TelemetryPlan | None = None
        self.peak_mb = 0.0
        self.stored = (0, 0)  # (parquet bytes, rows) of the checked read outputs

    # --- environment and session ------------------------------------------

    def configure(self) -> None:
        for sub in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap (-Xms = the -Xmx that get_spark sets), so peak
            # RSS and GC do not depend on when the heap happened to grow
            "spark.driver.extraJavaOptions":
                f"-Xms{JVM_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            **BASE_CONF,
            **(TRACE_CONF if self.trace else {}),
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
        self.notes["cpus"] = cpus

    def generate(self) -> dict:
        """Write the tables the workload reads (the ingest one reads only
        ``region``, in its warm-up) in a child process; returns their rows
        and bytes."""
        tables = () if self.reads else ("region",)
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), self.data_dir,
             str(self.args.seed), *tables],
            check=True, capture_output=True, text=True, timeout=120)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def setup(self) -> dict:
        """Session start, registry load and warm-up op; returns their
        durations."""
        t0 = time.time()
        from flight_data_pipeline_spark.session import get_spark
        spark = get_spark(app_name=f"perfbench-{self.workload.name}")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        from flight_data_pipeline_spark.plans import registry
        registry.load_all()
        t2 = time.time()
        from flight_data_pipeline_spark.tables import load_table
        load_table(spark, "region", self.data_dir).write.format("noop").mode("overwrite").save()
        t3 = time.time()
        self.spark, self.registry = spark, registry
        from pyspark import SparkContext
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return {"session.start_s": t1 - t0, "registry.load_s": t2 - t1, "warmup_s": t3 - t2}

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM and its
        Python workers to exit."""
        from pyspark import SparkContext
        proc = self.jvm_proc or getattr(SparkContext._gateway, "proc", None)
        kids = measure.descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # a failed stop must not keep the JVM alive
                traceback.print_exc()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in kids:
            while measure.alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if measure.alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def peak_rss_mb(self) -> float:
        parts = {"python": measure.vm_hwm_mb(os.getpid())}
        if self.jvm_proc is not None:
            parts["jvm"] = measure.vm_hwm_mb(self.jvm_proc.pid)
            parts["workers"] = sum(measure.vm_hwm_mb(pid)
                                   for pid in measure.descendants(self.jvm_proc.pid))
        self.notes["peak_rss_parts_mb"] = parts
        return sum(parts.values())

    # --- tracing hooks -----------------------------------------------------

    def set_group(self, group: str | None) -> None:
        """Tag the jobs that follow with ``group`` in traced passes; an
        untraced pass clears the tag once, at its start (group None)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)
        elif group is None and self.trace:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def codegen_snapshot(self) -> tuple[int, float]:
        """(compiles so far, mean compile ms) from Spark's CodegenMetrics."""
        hist = self.spark.sparkContext._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_COMPILATION_TIME()
        return int(hist.getCount()), float(hist.getSnapshot().getMean())

    def install_hooks(self) -> None:
        """Wrap the engine's layer entry points with spans. A function
        imported by name into other engine modules is replaced there too."""
        import importlib

        tracer = self.tracer

        def wrap(fn, span_name):
            def wrapper(*a, **kw):
                if tracer.inside(span_name):
                    return fn(*a, **kw)
                with tracer.span(span_name):
                    return fn(*a, **kw)
            wrapper.__wrapped__ = fn
            return wrapper

        def replace_everywhere(orig, new):
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("flight_data_pipeline_spark"):
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            setattr(mod, attr, new)

        for modname, attr in LOOP_FUNCTIONS:
            fn = getattr(importlib.import_module(modname), attr)
            replace_everywhere(fn, wrap(fn, f"loop.{attr}"))
        for modname, attr, span_name in ETL_FUNCTIONS:
            fn = getattr(importlib.import_module(modname), attr)
            replace_everywhere(fn, wrap(fn, span_name))
        sinks = importlib.import_module("flight_data_pipeline_spark.sinks")
        for cls, meth, span_name in ETL_METHODS:
            klass = getattr(sinks, cls)
            setattr(klass, meth, wrap(vars(klass)[meth], span_name))
        catalog = importlib.import_module("flight_data_pipeline_spark.catalog")
        catalog.daily_cleanliness = wrap(catalog.daily_cleanliness, "catalog")

        # the concrete DataFrame class, which overrides the abstract one's methods
        frame_cls = type(self.spark.range(1))
        original = frame_cls.localCheckpoint
        bench = self

        def local_checkpoint(df, *a, **kw):
            if tracer.enabled and tracer.inside("loop."):
                bench.checkpoint_log.append((time.time(), tracer.op))
            return original(df, *a, **kw)
        frame_cls.localCheckpoint = local_checkpoint

    def planning_phases(self, df) -> dict:
        """Catalyst phase times of ``df``'s own QueryExecution, with its
        physical plan forced so that optimization and planning ran."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                out[phase] = phases.apply(phase).durationMs() / 1000.0
        return out

    # --- workloads -----------------------------------------------------------

    def read_pass(self, no: int, traced: bool) -> Pass:
        self.tracer.enabled = traced
        self.set_group(None)
        p = Pass(no, traced, time.time())
        queries = self.registry.QUERIES
        for name in self.workload.ops:
            op = Op(f"p{no}:{name}", name)
            self.tracer.op = op.id
            self.spark.catalog.clearCache()
            op.t0 = time.time()
            try:
                self.set_group(f"{op.id}|build")
                with self.tracer.span("plans.build"):
                    df = queries[name](self.spark, self.data_dir)
                op.t1 = time.time()
                if traced:
                    op.phases = self.planning_phases(df)
                self.set_group(f"{op.id}|run")
                with self.tracer.span("exec.run"):
                    if no == 0:  # the first pass keeps the outputs for the check
                        df.write.mode("overwrite").parquet(self.output_dir(name))
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # the op failed; the run goes on
                op.error = f"{type(e).__name__}: {e}"[:400]
            op.t2 = time.time()
            op.t1 = op.t1 or op.t2
            p.ops.append(op)
        p.end = time.time()
        self.tracer.op = None
        return p

    def output_dir(self, name: str) -> str:
        return os.path.join(self.work, "outputs", name)

    def check_reads(self) -> None:
        """Hash-compare each query's output, as the first pass wrote it,
        with DuckDB running the query's oracle SQL over the same input
        files. The output files' size gives the bytes the engine stores
        per output row."""
        import duckdb
        con = duckdb.connect()
        size = rows = 0
        try:
            for t in gen.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name in self.workload.ops:
                out = self.output_dir(name)
                try:
                    got = self.spark.read.parquet(out).toPandas()
                    want = con.execute(self.registry.ORACLE_SQL[name]).fetchdf()
                    why = oracle.compare(got, want)
                    defect = oracle.KNOWN_DEFECTS.get(name)
                    known = bool(why and defect and defect.explains(got, want, con))
                    size += measure.parquet_stats([out])[1]
                    rows += len(got)
                except Exception as e:  # a failing check is a mismatch
                    why, known = f"{type(e).__name__}: {e}"[:400], False
                if why:
                    self.mismatches[name] = why
                    for op in self.ops():
                        if op.name == name:
                            op.known_defect = known and not op.error
                            op.error = op.error or f"output mismatch: {why}"
        finally:
            con.close()
        self.stored = (size, rows)

    def closed_loop(self, run_pass) -> None:
        """The first pass, then passes back to back until ``--seconds``
        have passed since the second one started and the workload's
        minimum of steady passes ran; then the peak RSS. Traced runs
        alternate untraced and traced steady passes and run at least
        three (untraced, traced, untraced), so the untraced median
        brackets the traced pass while the JVM is still warming."""
        def record(p: Pass) -> None:
            if self.trace:
                p.extra["codegen"] = self.codegen_snapshot()
            self.passes.append(p)

        record(run_pass(0, self.trace))
        start, no = time.time(), 1
        while True:
            record(run_pass(no, self.trace and no % 2 == 0))
            no += 1
            enough = len(self.passes) - 1 >= max(self.workload.passes,
                                                  3 if self.trace else 1)
            if enough and time.time() - start >= self.args.seconds:
                break
        self.peak_mb = self.peak_rss_mb()
        # the checks that follow must not run under the last op's tag
        self.tracer.enabled = False
        self.set_group(None)

    def run_reads(self) -> None:
        self.closed_loop(self.read_pass)
        t = time.time()
        self.check_reads()
        self.notes["check_s"] = time.time() - t

    def pipeline_op(self, op: Op, run: gen.TelemetryRun, tpath: str, apath: str) -> tuple:
        """One ``run_pipeline`` call with ``now`` pinned; returns its
        (status, rows inserted)."""
        import pyspark.sql.functions as F

        from flight_data_pipeline_spark import pipeline
        now = F.to_timestamp(F.lit(gen.NOW.strftime("%Y-%m-%d %H:%M:%S")))
        self.tracer.op = op.id
        self.set_group(f"{op.id}|run")
        op.t0 = op.t1 = time.time()
        out = (None, None)
        try:
            with self.tracer.span("pipeline.run"):
                res = pipeline.run_pipeline(
                    self.spark, lambda: run.intensity, lambda: run.mix,
                    tpath, apath, now=now, sleep=lambda s: None)
            out = (res.status, res.rows_inserted)
            if res.status == "failure" and run.status != "failure":
                op.error = res.error_message
        except Exception as e:
            op.error = f"{type(e).__name__}: {e}"[:400]
        op.t2 = time.time()
        if out != (run.status, run.rows):
            op.error = op.error or f"status {out[0]}/{out[1]}, expected {run.status}/{run.rows}"
        return out

    def ingest_pass(self, no: int, traced: bool) -> Pass:
        from flight_data_pipeline_spark import catalog, pipeline
        from flight_data_pipeline_spark.sinks import TelemetrySink

        plan = self.plan
        self.tracer.enabled = traced
        self.set_group(None)
        sink_dir = os.path.join(self.work, "sinks", f"p{no}")
        tpath, apath = os.path.join(sink_dir, "telemetry"), os.path.join(sink_dir, "audit")
        p = Pass(no, traced, time.time())
        results = []
        for i, run in enumerate(plan.runs):
            op = Op(f"p{no}:run{i}", "run_pipeline")
            results.append(self.pipeline_op(op, run, tpath, apath))
            p.ops.append(op)
        backfill = Op(f"p{no}:backfill", "backfill", sample=False)
        self.tracer.op = backfill.id
        self.set_group(f"{backfill.id}|run")
        backfill.t0 = backfill.t1 = time.time()
        with self.tracer.span("ingest.backfill"):
            batch = pipeline.build_telemetry_batch_multi(self.spark, plan.backfill)
            appended = TelemetrySink(self.spark, tpath).append_dedup(batch)
        backfill.t2 = time.time()
        readback = Op(f"p{no}:readback", "readback", sample=False)
        self.tracer.op = readback.id
        self.set_group(f"{readback.id}|run")
        days = sorted({r["timestamp"].date().isoformat() for r in plan.kept})
        readback.t0 = readback.t1 = time.time()
        with self.tracer.span("catalog.readback"):
            sink = TelemetrySink(self.spark, tpath)
            rollup = [r.asDict() for r in catalog.daily_cleanliness(sink.read()).collect()]
            in_range = sink.read_range(days[0], days[1]).count()
        readback.t2 = time.time()
        p.ops += [backfill, readback]
        p.end = time.time()
        self.tracer.op = None
        p.extra = {"results": results, "appended": appended, "rollup": rollup,
                   "in_range": in_range, "days": days[:2],
                   "sinks": {"telemetry": tpath, "audit": apath}}
        return p

    def check_ingest_pass(self, p: Pass) -> None:
        """Check a pass's backfill, read-back and audit rows against the
        plan; a mismatch fails the op that produced it."""
        from flight_data_pipeline_spark.sinks import AuditSink

        plan = self.plan
        ops = {op.name: op for op in p.ops if not op.sample}
        why: dict[str, list[str]] = {"backfill": [], "readback": []}
        if p.extra["appended"] != plan.backfill_rows:
            why["backfill"].append(f"appended {p.extra['appended']}, expected {plan.backfill_rows}")
        want = gen.expected_rollup(plan.kept)
        got = {r["day"].isoformat(): r for r in p.extra["rollup"]}
        if set(got) != set(want) or not all(gen.rollup_matches(got[d], want[d]) for d in want):
            why["readback"].append("daily rollup differs from the expectation")
        lo, hi = p.extra["days"]
        n_range = sum(lo <= r["timestamp"].date().isoformat() <= hi for r in plan.kept)
        if p.extra["in_range"] != n_range:
            why["readback"].append(f"read_range rows {p.extra['in_range']}, expected {n_range}")
        for name, msgs in why.items():
            if not msgs:
                continue
            msg = "; ".join(msgs)
            ops[name].error = ops[name].error or msg
            self.mismatches[ops[name].id] = msg
        audit = AuditSink(self.spark, p.extra["sinks"]["audit"]).read()
        got_runs = [(r.status, r.rows_inserted)
                    for r in audit.orderBy("run_timestamp").collect()]
        run_ops = [op for op in p.ops if op.sample]
        for i, (op, run) in enumerate(zip(run_ops, plan.runs)):
            if i >= len(got_runs) or got_runs[i] != (run.status, run.rows):
                msg = f"audit row {got_runs[i] if i < len(got_runs) else None}, " \
                      f"expected {(run.status, run.rows)}"
                op.error = op.error or msg
                self.mismatches[f"{op.id}:audit"] = msg

    def run_ingest(self) -> None:
        w = self.workload
        self.plan = plan = gen.telemetry_plan(self.args.seed, w.runs, w.backfill)
        self.closed_loop(self.ingest_pass)
        t = time.time()
        for p in self.passes:
            self.check_ingest_pass(p)
        edge_dir = os.path.join(self.work, "sinks", "edge")
        for i, run in enumerate(plan.edge):
            op = Op(f"edge:run{i}", "run_pipeline", sample=False)
            self.pipeline_op(op, run, os.path.join(edge_dir, "telemetry"),
                             os.path.join(edge_dir, "audit"))
            self.edge_ops.append(op)
        self.tracer.op = None
        self.notes["check_s"] = time.time() - t
        self.inputs = {"runs": len(plan.runs), "edge_runs": len(plan.edge),
                       "backfill_windows": len(plan.backfill),
                       "payload_bytes": sum(len(r.intensity) + len(r.mix)
                                            for r in plan.runs + plan.edge)
                       + sum(len(a) + len(b) for _, a, b in plan.backfill),
                       "rows_kept": len(plan.kept)}

    # --- metrics ---------------------------------------------------------------

    def ops(self) -> list[Op]:
        """Every op and step attempted, the edge calls included."""
        return [op for p in self.passes for op in p.ops] + self.edge_ops

    def stored_bytes_per_row(self) -> float:
        if self.reads:
            size, rows = self.stored
        else:
            size = measure.parquet_stats(self.passes[-1].extra["sinks"].values())[1]
            rows = len(self.plan.kept)
        return size / rows

    def end_to_end(self) -> tuple[dict, dict]:
        steady = [p for p in self.passes[1:] if not p.traced]
        lat = [op.latency for p in steady for op in p.ops if op.sample]
        try:
            pct, tail = measure.tail_percentile(lat)
        except ValueError:
            pct = 0
        if pct < 50:  # too few ops for a tail above the median: the maximum
            pct, tail = 100, max(lat)
        ops = self.ops()
        failed = [op for op in ops if op.error]
        metrics = {
            "setup_s": self.setup_parts["setup_s"],
            "first_pass_s": self.passes[0].wall,
            "pass_s": statistics.median([p.wall for p in steady]),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail,
            "peak_rss_mb": self.peak_mb,
            "stored_bytes_per_row": self.stored_bytes_per_row(),
        }
        info = {"op_fail_ratio": len(failed) / len(ops), "op_samples": len(lat),
                "op_tail_percentile": pct, "steady_passes": len(steady),
                "pass_walls_s": [round(p.wall, 3) for p in self.passes],
                "op_latencies_s": {op.id: round(op.latency, 3) for op in ops},
                "setup_parts_s": {k: round(v, 3) for k, v in self.setup_parts.items()}}
        return metrics, info


def metric_lines(metrics: dict, info: dict, attempted: int) -> list[str]:
    """One human-readable line per end-to-end metric, with its unit and
    the samples behind it."""
    basis = {
        "setup_s": "one cold set-up",
        "first_pass_s": "one cold pass",
        "pass_s": f"median of {info['steady_passes']} steady passes",
        "op_p50_s": f"median of {info['op_samples']} ops",
        "op_tail_s": f"p{info['op_tail_percentile']} of {info['op_samples']} ops",
        "peak_rss_mb": "JVM + Python processes, VmHWM at the end of the passes",
        "stored_bytes_per_row": "parquet bytes the engine wrote per row",
    }
    lines = [f"perfbench metric {k} {v:.6g} {unit_of(k)} ({basis[k]})"
             for k, v in metrics.items()]
    lines.append(f"perfbench metric op_fail_ratio {info['op_fail_ratio']:.6g} ratio "
                 f"(of {attempted} ops attempted)")
    return lines


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import flight_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    bench = Bench(args)
    proc_start = measure.process_start_time()
    steal0 = measure.steal_s()
    bench.configure()
    try:
        t = time.time()
        tables = bench.generate()
        if bench.reads:
            bench.inputs = tables
        gen_s = time.time() - t
        bench.setup_parts = bench.setup()
        bench.setup_parts["setup_s"] = time.time() - proc_start - gen_s
        if bench.trace:
            bench.install_hooks()
        bench.codegen_start = bench.codegen_snapshot()
        if bench.reads:
            bench.run_reads()
        else:
            bench.run_ingest()
        if bench.trace:
            import tracing
            layer = tracing.collect(bench)
        metrics, info = bench.end_to_end()
        ops = bench.ops()
        failed = [op for op in ops if op.error]
        if bench.trace:
            layer.update({k: bench.setup_parts[k]
                          for k in ("session.start_s", "registry.load_s", "warmup_s")})
            # a layer the workload never calls reports 0
            out_metrics = {k: layer.get(k, 0.0) for k in PER_LAYER}
        else:
            out_metrics = metrics
        summary = {**metrics, **info, "inputs": bench.inputs, "gen_s": gen_s,
                   "host_steal_s": measure.steal_s() - steal0,
                   "check_s": bench.notes["check_s"],
                   "cpus": bench.notes["cpus"], "jvm_heap": JVM_HEAP,
                   "peak_rss_parts_mb": bench.notes["peak_rss_parts_mb"],
                   "mismatches": bench.mismatches,
                   "known_defects": {op.name: oracle.KNOWN_DEFECTS[op.name].reason
                                     for op in failed if op.known_defect},
                   "failed_ops": {op.id: op.error for op in failed}}
        for line in metric_lines(metrics, info, len(ops)):
            print(line)
        print("perfbench summary " + json.dumps(summary, default=str))
        result = {
            # an op that failed only by a named, modelled defect still
            # counts in failed; any other failure makes the run incorrect
            "correct": all(op.known_defect for op in failed),
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in out_metrics.items()},
        }
        print(json.dumps(result))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if bench.spark is not None:
                bench.shutdown()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(bench.work))  # only when no other run uses it
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())

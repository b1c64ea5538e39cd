"""Link-graph benchmark: time to solution on seeded workloads.

    python3 perfbench/run.py --workload pr_hub_durable --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up starts a local Spark session with
one core per CPU, generates the workload's inputs from --seed, writes
them to parquet and loads them; it is repeated SETUP_REPS times and
setup_s is the median of all but the first, which launches the JVM. Then
one op runs; solve_s is its wall and peak_rss_mb the memory of the
process tree while it ran. An op shorter than --seconds is repeated
until --seconds have passed. Every op's result is checked against an
independent oracle outside the timed region; a wrong answer or an
exception counts as a failed op.

With --trace 1 the run then restarts the session twice, running one op
after each restart: first untraced, then with Spark's event log on and a
job group around each layer call. It reports the traced op's per-layer
metrics instead of the end-to-end metrics.

The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it holds the run's context: host, input sizes, samples.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, host  # noqa: E402
from perfbench.workloads import WORKLOADS, Op, Sizes, Workload, clear_dir  # noqa: E402

SETUP_REPS = 9
DRIVER_MEMORY = "2g"
WORK_DIR = os.path.join(ROOT, ".perfbench-run")
SPANS = ["extract", "pagerank", "wcc", "lpa", "triangles"]
SPAN_METRICS = {
    "wall_s": "s", "driver_gap_s": "s", "jobs": "count", "tasks": "count",
    "task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "fetch_wait_s": "s",
    "spill_mb": "MB", "task_skew": "ratio",
}
LAYER_METRICS = {
    "pagerank.supersteps": "count", "pagerank.superstep_p50_s": "s",
    "pagerank.superstep_max_s": "s", "pagerank.jobs_per_superstep": "count",
    "pagerank.driver_gap_share": "ratio", "wcc.supersteps": "count",
    "lpa.supersteps": "count", "extract.input_mb": "MB", "extract.edges": "count",
    "checkpoint.snapshots": "count", "checkpoint.written_mb": "MB",
    "checkpoint.task_s": "s", "session.start_s": "s", "session.old_gen_peak_mb": "MB",
    "tracing.overhead_s": "s",
}
END_TO_END = {
    "solve_s": "s", "setup_s": "s", "edge_supersteps_per_s": "1/s",
    "files_per_s": "1/s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{k}": u for s in SPANS for k, u in SPAN_METRICS.items()}
    units.update(LAYER_METRICS)
    return units


class Session:
    """Owns the SparkSession; every (re)start is timed."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.spark = None
        self.eventlog_dir = os.path.join(work, "eventlog")

    def start(self, event_log: bool = False) -> float:
        from graph_data_science_spark.session import get_spark

        self.stop()
        os.makedirs(self.eventlog_dir, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cores=self.cores,
            shuffle_partitions=self.cores,
            driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # a fixed heap: G1 otherwise grows it towards the cap at a
                # pace set by the host's load, and the JVM's RSS with it
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work}/tmp -Xms{DRIVER_MEMORY}",
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "true" if event_log else "false",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
            },
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until every process
        this run started has ended."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while host.descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)

    def old_gen_pools(self) -> list:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans()
                if "Old Gen" in p.getName() or "Tenured" in p.getName()]

    def jvm_gc(self) -> None:
        """Collect garbage between ops, outside the timed region, so each
        op starts from a similar heap."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()


class Tracer:
    """Times each layer call; when traced, also tags its Spark jobs with a
    job group named after the span, so the event log can be attributed."""

    def __init__(self, sc=None, tag: str = ""):
        self.sc = sc
        self.tag = tag
        self.spans: dict[str, tuple[str, float, float]] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"{self.tag}{name}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans[group] = (name, t0, time.time())
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


class Tally:
    """Counts ops (one operator call plus its oracle check) and failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, step_errors: dict[str, list[str]]) -> None:
        for step, errors in step_errors.items():
            self.attempted += 1
            if errors:
                self.failed += 1
                self.errors.extend(f"{step}: {e}" for e in errors[:3])


def run_op(workload: Workload, spark, loaded, tracer: Tracer, op_dir: str) -> tuple[Op, float]:
    """One op: every step of the workload, in its span. A step that raises
    ends the op; it and the steps after it are recorded as raised."""
    op = Op()
    clear_dir(op_dir)
    t0 = time.perf_counter()
    steps = workload.steps()
    for k, (name, fn) in enumerate(steps):
        try:
            with tracer.span(name):
                fn(spark, loaded, op, op_dir)
        except Exception:  # noqa: BLE001 - an operator failure is a counted result
            op.raised[name] = traceback.format_exc(limit=3)
            for later, _ in steps[k + 1:]:
                op.raised[later] = f"not run: {name} raised"
            break
    return op, time.perf_counter() - t0


def check_op(workload: Workload, inputs, expected, op: Op, tally: Tally) -> None:
    try:
        result = workload.verify(inputs, expected, op) if len(op.raised) < len(workload.steps()) else {}
    except Exception:  # noqa: BLE001 - a result the oracle cannot read is wrong
        result = {name: [traceback.format_exc(limit=3)] for name, _ in workload.steps()}
    for name, why in op.raised.items():
        result[name] = [why.strip().splitlines()[-1]]
    tally.record(result)


def setup(workload: Workload, session: Session, seed: int, sizes: Sizes, data_dir: str):
    """One set-up: (re)start the session, generate, write and load the
    inputs. Returns (phase times, inputs, loaded tables)."""
    phases = {"session_s": session.start()}
    t = time.perf_counter()
    inputs = workload.generate(seed, sizes)
    phases["generate_s"] = time.perf_counter() - t
    t = time.perf_counter()
    clear_dir(data_dir)
    workload.write(inputs, data_dir)
    phases["write_s"] = time.perf_counter() - t
    t = time.perf_counter()
    loaded = workload.load(session.spark, data_dir)
    phases["load_s"] = time.perf_counter() - t
    phases["total_s"] = sum(phases.values())
    return phases, inputs, loaded


def superstep_walls(op: Op, key: str) -> list[float]:
    res = op.outputs.get(key)
    return [float(m.get("wall_sec", 0.0)) for m in res.metrics] if res is not None else []


def layer_metrics(op: Op, spans: dict, events: list[dict], extract_edges: int,
                  solve_untraced: float, solve_traced: float, cold_session_start: float,
                  op_dir: str) -> dict[str, float]:
    by_span = eventlog.span_metrics(events, spans)
    out: dict[str, float] = {}
    for s in SPANS:
        m = by_span.get(s, {})
        for k in SPAN_METRICS:
            out[f"{s}.{k}"] = float(m.get(k, 0.0))
    pr = superstep_walls(op, "pagerank")
    out["pagerank.supersteps"] = float(len(pr))
    out["pagerank.superstep_p50_s"] = statistics.median(pr) if pr else 0.0
    out["pagerank.superstep_max_s"] = max(pr) if pr else 0.0
    out["pagerank.jobs_per_superstep"] = out["pagerank.jobs"] / len(pr) if pr else 0.0
    wall = out["pagerank.wall_s"]
    out["pagerank.driver_gap_share"] = out["pagerank.driver_gap_s"] / wall if wall else 0.0
    out["wcc.supersteps"] = float(len(superstep_walls(op, "wcc")))
    out["lpa.supersteps"] = float(len(superstep_walls(op, "lpa")))
    out["extract.input_mb"] = float(by_span.get("extract", {}).get("input_mb", 0.0))
    out["extract.edges"] = float(extract_edges)
    ckpt = by_span.get("pagerank", {})
    out["checkpoint.snapshots"] = float(len(glob.glob(os.path.join(op_dir, "checkpoints", "superstep=*"))))
    out["checkpoint.written_mb"] = float(ckpt.get("output_mb", 0.0))
    out["checkpoint.task_s"] = float(ckpt.get("output_task_s", 0.0))
    out["session.start_s"] = cold_session_start
    out["tracing.overhead_s"] = solve_traced - solve_untraced
    return out


def run(workload: Workload, seed: int, seconds: float, trace: bool, sizes: Sizes | None = None,
        work: str = WORK_DIR) -> tuple[dict, dict]:
    """Runs one benchmark run; returns (result, context)."""
    sizes = sizes or workload.sizes
    cores = host.nproc()
    context: dict = {"workload": workload.name, "seed": seed, "seconds": seconds,
                     "trace": trace, "nproc": cores, "loadavg_before": host.loadavg(),
                     "canary_before_s": host.canary_s()}
    clear_dir(work)
    # everything Spark and Python write goes under the work directory
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    data_dir = os.path.join(work, "data")
    op_dir = os.path.join(work, "op")
    session = Session(work, cores)
    tally = Tally()

    def checked_op(loaded, tracer: Tracer) -> tuple[Op, float]:
        op, wall = run_op(workload, session.spark, loaded, tracer, op_dir)
        check_op(workload, inputs, expected, op, tally)
        return op, wall

    try:
        phases = []
        for _ in range(SETUP_REPS):
            phase, inputs, loaded = setup(workload, session, seed, sizes, data_dir)
            phases.append(phase)
        context["setup_phases"] = phases
        context["inputs"] = inputs.sizes()
        t = time.perf_counter()
        expected = workload.expected(inputs)
        context["oracle_s"] = time.perf_counter() - t

        # solve_s is the first op after set-up: what a caller who loads a
        # table and runs the analysis waits for. Ops shorter than --seconds
        # are repeated until --seconds have passed; the repeats are checked
        # too, but not timed into solve_s.
        session.jvm_gc()
        # memory is sampled while the op runs, not while the oracle reads it
        with host.RssSampler() as rss:
            op, solve = run_op(workload, session.spark, loaded, Tracer(), op_dir)
        check_op(workload, inputs, expected, op, tally)
        work_done = workload.work(inputs, op) if not op.raised else {}
        repeats = []
        while sum(repeats) + solve < seconds:
            op.release()
            session.jvm_gc()
            op, wall = checked_op(loaded, Tracer())
            repeats.append(wall)
        context["repeat_s"] = repeats

        layers = None
        if trace:
            # tracing.overhead_s compares two ops that each run first after
            # a session restart, one without tracing and one with it
            session.start()
            op, untraced = checked_op(workload.load(session.spark, data_dir), Tracer())
            context["traced_session_start_s"] = session.start(event_log=True)
            tracer = Tracer(session.spark.sparkContext, tag="perfbench:")
            loaded = workload.load(session.spark, data_dir)
            for pool in session.old_gen_pools():
                pool.resetPeakUsage()
            op, traced = checked_op(loaded, tracer)
            old_gen_peak = sum(p.getPeakUsage().getUsed() for p in session.old_gen_pools())
            g = op.outputs.get("graph")
            extract_edges = g.edges.count() if g is not None else 0
            session.stop()
            logs = glob.glob(os.path.join(session.eventlog_dir, "*"))
            events = eventlog.read(max(logs, key=os.path.getmtime))
            layers = layer_metrics(op, tracer.spans, events, extract_edges, untraced, traced,
                                   phases[0]["session_s"], op_dir)
            layers["session.old_gen_peak_mb"] = old_gen_peak / 2**20
            context["untraced_after_restart_s"] = untraced
            context["traced_solve_s"] = traced
    finally:
        session.close()
    context["canary_after_s"] = host.canary_s()
    context["loadavg_after"] = host.loadavg()
    # the load average still holds the previous run's load, so only the
    # canary slowing down during the run flags another tenant
    context["contended"] = context["canary_after_s"] > 1.25 * context["canary_before_s"]
    context["errors"] = tally.errors[:20]

    context["end_to_end"] = {
        "solve_s": solve,
        # the first set-up launches the JVM; its time is session.start_s
        "setup_s": statistics.median(p["total_s"] for p in phases[1:]),
        "edge_supersteps_per_s": work_done.get("edge_supersteps", 0.0) / solve,
        "files_per_s": work_done.get("files", 0.0) / solve,
        "peak_rss_mb": rss.peak / 2**20,
    }
    context["peak_rss_by_process_mb"] = rss.peak_by_process
    if trace:
        metrics, units = layers, per_layer_units()
    else:
        metrics, units = context["end_to_end"], END_TO_END
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, context


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # fail before any output when the program is not in this checkout
    import graph_data_science_spark as program

    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        sys.exit(f"graph_data_science_spark was imported from outside {ROOT}")

    try:
        result, context = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK_DIR, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end benchmark of spark-graft: full query results and ETL ticks.

Run from the repository root::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``):

- ``queries``: registry queries to their full result, relational keys
  (scan, exchange, aggregate) beside LLM/graph keys (Python boundary,
  driver-side iteration);
- ``etl_ticks``: ETL jobs as cron ticks over a growing source.

Load model: closed loop, one client, one warm SparkSession built by
``modevetl_spark.session.get_spark`` on ``local[nproc]``. A run generates the
seeded inputs (``inputs.py``, once per seed), starts the session, runs one
untimed warm-up pass (``setup_s`` ends with it), then the workload's untimed
settle passes, then timed passes until ``--seconds`` have elapsed (at least
one), each pass running every op once in a seeded order. Correctness
checks run untimed while Spark is up: query results against the DuckDB
oracle once per key (``tests.oracle.compare``),
then for the same order-insensitive hash on every repetition; ETL sinks
after each pass against one single-shot tick.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` repeats the run
in a second SparkContext that writes an uncompressed event log and tags
every Spark job with its op, and prints per-op and per-run layer metrics
read from that log (``eventlog.py``) and from spans around the calls into
the program. A third, untraced SparkContext in the same warm JVM follows;
``trace.overhead`` is the traced ``wall_s`` over its ``wall_s``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes goes under ``.bench_work/`` in the working
directory.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

import numpy as np  # noqa: E402

import inputs  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("queries", "etl_ticks")
# untimed passes between the warm-up pass and the timed ones, so that the
# timed passes start after the JIT has caught up. On a shared 4-vCPU VM the
# cpu_s of the first pass after the warm-up spread by 0.12 (queries) and
# 0.04-0.18 (etl_ticks) of its median over ten seeds; a queries pass still
# cost a fifth less CPU on its third run than on its first.
SETTLE_PASSES = {"queries": 2, "etl_ticks": 1}
N_DELTAS = 2  # non-empty ETL ticks; one empty tick follows
# bounded: set-up time, and the CPU seconds one timed pass costs the driver
# JVM, the Python driver and the Python workers, less the JVM's JIT compiler
# threads. JIT compilation took 40-50% of a pass's CPU and varied most from
# pass to pass (10-16 s of ~24 s on the queries workload on a 4-vCPU VM);
# it is reported on its own as jvm.jit_cpu_s.
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}
# printed in the summary of every run and, when traced, in the JSON but not
# bounded. On a shared 4-vCPU VM whose CPU steal reached 9-18% in slow
# periods, wall times moved by up to 2x between runs minutes apart, several
# times the spread of cpu_s; failed_ratio and write_amp are 0 where nothing
# fails or nothing is written; the driver's peak RSS moves by a quarter with
# JVM heap growth.
OUTCOME_UNITS = {
    "wall_s": "s",
    "op_p50_s": "s",
    "failed_ratio": "1",
    "write_amp": "1",
    "peak_rss_mb": "MB",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
}
# driver JVM thread names (``comm``, cut to 15 characters) by kind
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread", "G1 ")
TAIL_BEYOND = 10  # op_tail_s: highest percentile with this many samples beyond it
LAYER_UNITS = {
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.scan_ms": "ms",
    "sources.files_read": "count",
    "queries.sql_keys_ms": "ms",
    "queries.llm_keys_ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "plans.planning_ms": "ms",
    "exchange.stages": "count",
    "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_read_mb": "MB",
    "exchange.shuffle_records": "count",
    "exchange.fetch_wait_ms": "ms",
    "exchange.write_ms": "ms",
    "operators.agg_ms": "ms",
    "operators.sort_ms": "ms",
    "operators.spill_mb": "MB",
    "operators.peak_mem_mb": "MB",
    "operators.broadcast_mb": "MB",
    "operators.broadcast_ms": "ms",
    "python.stage_run_ms": "ms",
    "python.to_worker_mb": "MB",
    "python.from_worker_mb": "MB",
    "python.share": "1",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.busy_ratio": "1",
    "spark.straggler_ratio": "1",
    "driver.cluster_idle_ms": "ms",
    "streaming.output_mb": "MB",
    "streaming.output_rows": "count",
    "streaming.write_stage_ms": "ms",
    "streaming.sink_files": "count",
    "streaming.sink_mb": "MB",
    **{f"jobs.{job}_ms": "ms" for job in workloads.ETL_JOBS},
    "jobs.empty_tick_ms": "ms",
    "trace.overhead": "1",
}
# per-pass aggregation of per-op layer values: max for these, sum otherwise;
# ratios are recomputed from the pass totals
PASS_MAX = {"operators.peak_mem_mb", "spark.straggler_ratio"}


def _fail_setup(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _process_tree(pid: int) -> list[int]:
    """``pid`` and its descendants, parents first, from the parent pid field
    of every process's ``stat`` (a ``task/<tid>/children`` file lists only
    the children that one thread started)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):  # ended while listing
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop(0)
        tree.append(p)
        todo.extend(sorted(children.get(p, [])))
    return tree


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _stat(path: str) -> list[str] | None:
    """Fields of a ``stat`` file after the command name, or None if the
    process or thread has ended."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def _cpu() -> dict[str, float]:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python worker daemon and its workers), including their
    reaped children ("all"), and of that by the JVM's JIT compiler threads
    ("jit") and garbage collector threads ("gc"). The JVM runs with a fixed
    set of compiler threads, so none ends and takes its count with it."""
    ticks = {"all": 0, "jit": 0, "gc": 0}
    for p in _process_tree(os.getpid()):
        fields = _stat(f"/proc/{p}/stat")
        if fields is None:
            continue
        ticks["all"] += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        if _comm(p) != "java":
            continue
        for task in glob.glob(f"/proc/{p}/task/*"):
            try:
                with open(f"{task}/comm") as f:
                    name = f.read().strip()
            except (FileNotFoundError, ProcessLookupError):
                continue
            kind = "jit" if name.startswith(JIT_THREADS) else "gc" if name.startswith(GC_THREADS) else None
            fields = _stat(f"{task}/stat") if kind else None
            if fields is not None:
                ticks[kind] += int(fields[11]) + int(fields[12])
    return {k: v / os.sysconf("SC_CLK_TCK") for k, v in ticks.items()}


def _python_workers(spark) -> list[int]:
    """Python processes below the driver JVM: the worker daemon and its
    workers."""
    tree = _process_tree(spark.sparkContext._gateway.proc.pid)
    return [p for p in tree[1:] if _comm(p).startswith("python")]


def _jvm_pid(spark) -> int:
    """The driver JVM: the gateway process, or its ``java`` descendant."""
    for p in _process_tree(spark.sparkContext._gateway.proc.pid):
        if _comm(p) == "java":
            return p
    raise RuntimeError("no driver JVM process found")


def _stop_jvm() -> None:
    """End the driver JVM (it exits when its stdin closes) and wait until it
    and the Python workers it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = _process_tree(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while any(os.path.exists(f"/proc/{p}") for p in tree[1:]) and time.time() < deadline:
        time.sleep(0.1)


def _git_commit(root: str) -> str:
    """HEAD of the checkout, or "unknown" outside a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least
    TAIL_BEYOND samples beyond it; None when there are too few samples."""
    s = sorted(latencies)
    i = len(s) - TAIL_BEYOND - 1
    if i < 0:
        return None
    return s[i], 100.0 * (i + 1) / len(s)


class Tracer:
    """Spans around the calls into the program; when enabled, every Spark
    job started inside a span is tagged ``op=<op id>;phase=<span name>``
    and the span is kept in memory."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, op_id: str, name: str, parent: str | None = None):
        if self.enabled:
            if parent is None:
                self.sc.setJobGroup(op_id, f"op={op_id};phase={name}")
            else:
                self.sc.setJobDescription(f"op={op_id};phase={name}")
        t0 = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append(
                    {
                        "op": op_id,
                        "name": name,
                        "parent": parent,
                        "start_ms": t0 * 1000,
                        "end_ms": time.time() * 1000,
                    }
                )

    def tracker_jobs(self, op_id: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(op_id))


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.gen_s = 0.0  # input generation, kept out of setup_s

    # -- inputs and workload -------------------------------------------------
    def prepare(self):
        t0 = time.time()
        inputs_dir = os.path.join(self.work, "inputs", f"seed-{self.args.seed}")
        self.manifest = inputs.generate(inputs_dir, self.args.seed, N_DELTAS)
        self.gen_s = time.time() - t0
        name = self.args.workload
        if name == "etl_ticks":
            self.wl = workloads.EtlWorkload(workloads.ETL_JOBS, inputs_dir, self.manifest, self.work)
        else:
            self.wl = workloads.QueryWorkload(workloads.QUERY_KEYS, os.path.join(inputs_dir, "full"))
        self.etl = name == "etl_ticks"
        self.inputs_dir = inputs_dir

    def spark_conf(self, log_dir: str | None) -> dict[str, str]:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                # compiler threads that come and go would take their CPU
                # time out of the per-thread figures; a heap that starts
                # small grows during the timed passes, and its GC with it
                " -XX:-UseDynamicNumberOfCompilerThreads -Xms2g"
            ),
        }
        if log_dir is not None:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    # -- one pass ----------------------------------------------------------
    def run_pass(self, spark, tracer: Tracer, label: str, rng) -> list[dict]:
        pass_id = f"pass-{label}"
        if self.etl:
            self.wl.cleanup(pass_id)
        records = []
        cpu0 = _cpu()
        for i, op in enumerate(self.wl.plan(rng)):
            name = f"{op[1]}@{op[0]}" if self.etl else op
            op_id = f"{label}.{i}:{name}"
            rec = {"pass": label, "op_id": op_id, "name": name, "op": op, "error": None}
            t0 = time.perf_counter()
            with tracer.span(op_id, "op"):
                try:
                    if self.etl:
                        out = self.wl.run_op(
                            spark, op, lambda n: tracer.span(op_id, n, "op"), pass_id
                        )
                    else:
                        out = self.wl.run_op(spark, op, lambda n: tracer.span(op_id, n, "op"))
                except Exception as e:  # one failing op must not stop the run
                    out = None
                    rec["error"] = f"exception: {type(e).__name__}: {e}".splitlines()[0]
                    traceback.print_exc(file=sys.stderr)
            rec["latency_s"] = time.perf_counter() - t0
            if out is not None:
                rec["result"] = out["result"]
                if "df" in out:  # the oracle check re-runs the query's DataFrame
                    rec["df"] = out["df"]
                if tracer.enabled and "df" in out:
                    rec["planning_ms"] = _planning_ms(out["df"])
            if tracer.enabled:
                rec["tracker_jobs"] = tracer.tracker_jobs(op_id)
            if self.etl:
                rec["bytes_written"] = self.wl.bytes_written(pass_id)
            records.append(rec)
        cpu = {k: v - cpu0[k] for k, v in _cpu().items()}
        records[0]["pass_cpu_s"] = cpu["all"] - cpu["jit"]
        records[0]["pass_jit_s"], records[0]["pass_gc_s"] = cpu["jit"], cpu["gc"]
        if self.etl:
            records[0]["pass_sink"] = self.wl.sink_stats(pass_id)
        elif not _python_workers(spark):
            _fail_setup(f"{pass_id}: no Python worker below the driver JVM; cpu_s would miss it")
        return records

    # -- one SparkContext: warm-up + timed passes -----------------------------
    def run_phase(self, traced: bool, prefix: str) -> dict:
        """Warm-up pass, timed passes for ``--seconds``, then the untimed
        checks of every pass, in a new SparkContext. ``prefix`` names the
        passes of the phase."""
        from modevetl_spark.session import get_spark, quiet_bounded_window_warnings

        log_dir = None
        if traced:
            log_dir = os.path.join(self.work, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}", extra_conf=self.spark_conf(log_dir)
        )
        quiet_bounded_window_warnings(spark)
        tracer = Tracer(spark, traced)
        phase = {"traced": traced, "log_dir": log_dir}
        seed = self.args.seed
        warm = self.run_pass(spark, tracer, f"{prefix}w", np.random.default_rng([seed, 0]))
        phase["setup_s"] = time.time() - PROCESS_T0 - self.gen_s
        if not prefix:  # untimed checks, which also let background JIT settle
            self.check_part(spark)
            if self.etl:
                self.wl.reference(spark)
        self.check(tracer, prefix, warm)
        settle = []
        for i in range(SETTLE_PASSES[self.args.workload]):
            rng = np.random.default_rng([seed, 0, i + 1])
            settle.append(self.run_pass(spark, tracer, f"{prefix}s{i + 1}", rng))
            self.check(tracer, prefix, settle[-1])
        timed: list[list[dict]] = []
        t_loop = time.perf_counter()
        while not timed or time.perf_counter() - t_loop < self.args.seconds:
            p = len(timed) + 1
            timed.append(
                self.run_pass(spark, tracer, f"{prefix}{p}", np.random.default_rng([seed, p]))
            )
        phase["warm"], phase["settle"], phase["timed"] = warm, settle, timed
        phase["peak_rss_mb"] = _vm_hwm_mb(_jvm_pid(spark)) + _vm_hwm_mb("self")
        for recs in timed:
            self.check(tracer, prefix, recs)
        phase["spans"] = tracer.spans
        spark.stop()
        return phase

    def check(self, tracer: Tracer, prefix: str, records: list[dict]) -> None:
        """Check one pass while Spark is up. Spark jobs the check starts are
        tagged as an op of their own, so no benchmark op is charged for
        them."""
        with tracer.span(f"{prefix}check", "check"):
            self.wl.check(records)

    def check_part(self, spark) -> None:
        """The generated part table must defeat the closed-form fast path."""
        from modevetl_spark.operators.heaptree import contiguous_partkey_max
        from modevetl_spark.sources.catalog import load

        part = load(spark, os.path.join(self.inputs_dir, "full"), "part")
        if contiguous_partkey_max(part) is not None:
            _fail_setup("generated part keys are contiguous; the generic tier is not priced")


def _planning_ms(df) -> float:
    """Analysis + optimization + planning time from the query's planning
    tracker."""
    tracker = df._jdf.queryExecution().tracker()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        summary = tracker.phases().get(phase)
        if summary.isDefined():
            total += summary.get().durationMs()
    return total


# -- metrics -----------------------------------------------------------------
def e2e_metrics(phase: dict, etl_wl) -> dict:
    timed = phase["timed"]
    lat = [r["latency_s"] for p in timed for r in p]
    walls = [sum(r["latency_s"] for r in p) for p in timed]
    m = {
        "setup_s": phase["setup_s"],
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(lat),
        "cpu_s": statistics.median(p[0]["pass_cpu_s"] for p in timed),
        "jvm.jit_cpu_s": statistics.median(p[0]["pass_jit_s"] for p in timed),
        "jvm.gc_cpu_s": statistics.median(p[0]["pass_gc_s"] for p in timed),
        "peak_rss_mb": phase["peak_rss_mb"],
        "failed_ratio": sum(1 for p in timed for r in p if r["error"]) / len(lat),
        "write_amp": 0.0,
    }
    if etl_wl is not None:
        m["write_amp"] = statistics.median(
            sum(r["bytes_written"] for r in p) / etl_wl.delta_bytes() for p in timed
        )
    info = {
        "passes": len(timed),
        "ops": len(lat),
        "pass_walls_s": walls,
        "pass_cpu_s": [p[0]["pass_cpu_s"] for p in timed],
    }
    return m, info


def layer_metrics(phase: dict, untraced_wall: float, cores: int, wl, etl: bool) -> tuple[dict, list]:
    """Per-op layer values from the event log and spans, aggregated per
    timed pass and reported as the median over passes."""
    import eventlog

    log = eventlog.parse(phase["log_dir"])
    spans = {}
    for s in phase["spans"]:
        spans.setdefault(s["op"], {})[s["name"]] = s
    per_op = []
    unattributed = []
    for recs in [phase["warm"], *phase["timed"]]:
        for r in recs:
            op_span = spans[r["op_id"]]["op"]
            v = eventlog.op_layers(log, r["op_id"], op_span["start_ms"], op_span["end_ms"], cores)
            build = spans[r["op_id"]].get("build")
            v["queries.build_ms"] = build["end_ms"] - build["start_ms"] if build else 0.0
            v["plans.planning_ms"] = r.get("planning_ms", 0.0)
            v["wall_ms"] = op_span["end_ms"] - op_span["start_ms"]
            for fam in ("sql", "llm"):
                hit = not etl and wl.family[r["op"]] == fam
                v[f"queries.{fam}_keys_ms"] = r["latency_s"] * 1000 if hit else 0.0
            if v["spark.stages"] == 0:
                unattributed.append(r["op_id"])
            if r.get("tracker_jobs", v["spark.jobs"]) != v["spark.jobs"]:
                raise eventlog.AttributionError(
                    f"{r['op_id']}: status tracker saw {r['tracker_jobs']} jobs, "
                    f"event log {v['spark.jobs']}"
                )
            r["layers"] = v
            per_op.append({"op_id": r["op_id"], **v})
    passes = []
    for recs in phase["timed"]:
        agg: dict[str, float] = {}
        for r in recs:
            for k, x in r["layers"].items():
                agg[k] = max(agg.get(k, 0.0), x) if k in PASS_MAX else agg.get(k, 0.0) + x
        run_ms = agg["spark.executor_run_ms"]
        agg["python.share"] = agg["python.stage_run_ms"] / run_ms if run_ms else 0.0
        agg["spark.busy_ratio"] = run_ms / (agg["wall_ms"] * cores)
        if etl:
            files, size = recs[0]["pass_sink"]
            agg["streaming.sink_files"], agg["streaming.sink_mb"] = files, size / 2**20
        passes.append(agg)
    out = {k: statistics.median(p.get(k, 0.0) for p in passes) for k in LAYER_UNITS}
    timed = [r for p in phase["timed"] for r in p]
    last = max((r["op"][0] for r in timed), default=0) if etl else None
    for job in workloads.ETL_JOBS:
        ms = [r["latency_s"] * 1000 for r in timed if etl and r["op"][1] == job and r["op"][0] != last]
        out[f"jobs.{job}_ms"] = statistics.median(ms) if ms else 0.0
    empty = [r["latency_s"] * 1000 for r in timed if etl and r["op"][0] == last]
    out["jobs.empty_tick_ms"] = statistics.median(empty) if empty else 0.0
    traced_wall = statistics.median(sum(r["latency_s"] for r in p) for p in phase["timed"])
    out["trace.overhead"] = traced_wall / untraced_wall
    if unattributed:
        raise eventlog.AttributionError(f"ops with no attributed stage: {unattributed}")
    return out, per_op


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "modevetl_spark", "session.py")):
        _fail_setup(f"no modevetl_spark package under {root}; run from the repository root")
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work")
    for d in ("tmp", "spark-local", "etl"):  # left over by an interrupted run
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    load_start = os.getloadavg()[0]

    runner = Runner(args, work)
    runner.prepare()
    phases = [runner.run_phase(traced=False, prefix="")]
    if args.trace:
        # the untraced phase after the traced one runs in the same warm JVM,
        # so trace.overhead compares like with like
        phases.append(runner.run_phase(traced=True, prefix="t"))
        phases.append(runner.run_phase(traced=False, prefix="u"))
    _stop_jvm()

    e2e, info = e2e_metrics(phases[0], runner.wl if runner.etl else None)
    layers, per_op = ({}, [])
    if args.trace:
        warm_wall = e2e_metrics(phases[2], runner.wl if runner.etl else None)[0]["wall_s"]
        layers, per_op = layer_metrics(phases[1], warm_wall, cores, runner.wl, runner.etl)
        layers.update({k: e2e[k] for k in OUTCOME_UNITS})

    import pyspark

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "spark": pyspark.__version__,
        "commit": _git_commit(root),
        "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0],
        "input_rows": runner.manifest["rows"],
        "tick_bounds": runner.manifest["tick_bounds"],
        **info,
    }
    ops = [r for ph in phases for p in ph["timed"] for r in p]
    failed = [r for r in ops if r["error"]]
    warm_failed = [
        r for ph in phases for p in [ph["warm"], *ph["settle"]] for r in p if r["error"]
    ]
    with open(os.path.join(work, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(
            {
                "meta": meta,
                "e2e": e2e,
                "layers": layers,
                "per_op": per_op,
                "spans": phases[1]["spans"] if args.trace else [],
                "ops": [
                    {k: r[k] for k in ("op_id", "latency_s", "error")} for r in ops
                ],
            },
            f,
            indent=1,
            default=str,
        )

    for k, v in meta.items():
        print(f"# {k}: {v}")
    for k, unit in {**E2E_UNITS, **OUTCOME_UNITS}.items():
        print(f"{k} {e2e[k]:.6g} {unit}")
    op_tail = tail([r["latency_s"] for p in phases[0]["timed"] for r in p])
    if op_tail:
        print(f"op_tail_s {op_tail[0]:.6g} s (p{op_tail[1]:.1f} of {info['ops']} ops)")
    else:
        print(f"op_tail_s n/a s ({info['ops']} ops: no percentile has {TAIL_BEYOND} beyond it)")
    for rec in per_op:
        print(f"# op {rec['op_id']} " + " ".join(f"{k}={v:.4g}" for k, v in rec.items() if k != "op_id"))
    for k, unit in LAYER_UNITS.items():
        if k in layers:
            print(f"{k} {layers[k]:.6g} {unit}")
    for r in warm_failed + failed:
        print(f"FAIL {args.workload} {r['name']} pass={r['pass']} {r['error']}")
    correct = not failed and not warm_failed
    print(f"correct: {str(correct).lower()} ({len(failed)} of {len(ops)} timed ops failed)")
    metrics = layers if args.trace else {k: e2e[k] for k in E2E_UNITS}
    units = {**E2E_UNITS, **OUTCOME_UNITS, **LAYER_UNITS}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    shutil.rmtree(os.path.join(work, "etl"), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

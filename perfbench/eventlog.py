"""Per-op layer metrics read from an uncompressed Spark event log.

Every job the benchmark starts carries a job description
``op=<op id>;phase=<phase>``; each stage inherits the description of the
job that submitted it, so every stage is attributed to one op. Stages are
classified by the operator names in their RDD scopes and by which task
metrics they carry:

- a *Python* stage runs a Python operator (``MapInArrow``,
  ``ArrowEvalPython``, ``PythonRDD``, ...);
- an *exchange* stage writes shuffle output;
- a *write* stage writes files.

SQL metrics ("scan time", "time in aggregation build", ...) come from the
stage accumulables; broadcast sizes and times and the number of files a
scan read are driver-side metric updates of plan nodes, matched to the op
through the SQL execution id.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

MB = 1024 * 1024
PYTHON_OPERATOR = re.compile(r"Python|InPandas|InArrow|ArrowEval")
WRITE_OPERATOR = re.compile(r"WriteFiles|InsertIntoHadoopFsRelation")
# stage accumulable name -> (field, divisor to ms or MB)
SQL_STAGE_METRICS = {
    "scan time": ("scan_ms", 1),
    "time in aggregation build": ("agg_ms", 1),
    "sort time": ("sort_ms", 1),
    "data sent to Python workers": ("py_to_mb", MB),
    "data returned from Python workers": ("py_from_mb", MB),
}
# driver-side metrics, posted as SQL driver accumulator updates:
# (plan node name prefix, metric name) -> (field, divisor)
DRIVER_METRICS = {
    ("BroadcastExchange", "data size"): ("broadcast_mb", MB),
    ("BroadcastExchange", "time to collect"): ("broadcast_ms", 1),
    ("BroadcastExchange", "time to build"): ("broadcast_ms", 1),
    ("BroadcastExchange", "time to broadcast"): ("broadcast_ms", 1),
    ("Scan", "number of files read"): ("files_read", 1),
}
DESCRIPTION = re.compile(r"^op=(?P<op>[^;]+);phase=(?P<phase>.+)$")


class AttributionError(Exception):
    """A Spark job ran without a benchmark op description."""


def log_files(log_dir: str) -> list[str]:
    """Event files of the one application logged under ``log_dir``: the
    rolling ``eventlog_v2_*/events_<n>_*`` parts in order, or one plain
    file."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def read_events(log_dir: str):
    files = log_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _plan_metric_ids(plan: dict, out: dict[int, tuple[str, float]]) -> None:
    """accumulator id -> (field, divisor) for the plan's driver metrics."""
    for m in plan.get("metrics", []):
        for (node, name), field in DRIVER_METRICS.items():
            if plan["nodeName"].startswith(node) and m["name"] == name:
                out[m["accumulatorId"]] = field
    for child in plan.get("children", []):
        _plan_metric_ids(child, out)


def _new_stage() -> dict:
    return {
        "run_ms": 0.0,
        "cpu_ms": 0.0,
        "gc_ms": 0.0,
        "tasks": 0,
        "failed_tasks": 0,
        "task_ms": [],
        "peak_mem_mb": 0.0,
        "spill_mb": 0.0,
        "input_mb": 0.0,
        "input_rows": 0,
        "output_mb": 0.0,
        "output_rows": 0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_records": 0,
        "fetch_wait_ms": 0.0,
        "shuffle_write_ms": 0.0,
    }


def parse(log_dir: str) -> dict:
    """Read the log into ``{"stages": [...], "jobs": {...}, "driver": {...}}``.

    Each stage dict has its op, phase, time window (epoch ms), kind flags
    and summed task metrics. Raises AttributionError if any job lacks an
    op description."""
    stage_props: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = defaultdict(_new_stage)
    jobs: dict[int, dict] = {}
    exec_op: dict[int, str] = {}
    driver_ids: dict[int, tuple[str, float]] = {}
    driver_updates: list[tuple[int, int, int]] = []
    for ev in read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            m = DESCRIPTION.match(desc)
            if m is None:
                raise AttributionError(
                    f"Spark job {ev['Job ID']} has no op description ({desc!r})"
                )
            jobs[ev["Job ID"]] = {"op": m["op"], "phase": m["phase"]}
            if "spark.sql.execution.id" in props:
                exec_op[int(props["spark.sql.execution.id"])] = m["op"]
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stage_props[ev["Stage Info"]["Stage ID"]] = props
        elif kind == "SparkListenerTaskEnd":
            st = stages[(ev["Stage ID"], ev["Stage Attempt ID"])]
            info = ev["Task Info"]
            st["tasks"] += 1
            st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
            if ev["Task End Reason"]["Reason"] != "Success":
                st["failed_tasks"] += 1
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            st["run_ms"] += tm["Executor Run Time"]
            st["cpu_ms"] += tm["Executor CPU Time"] / 1e6
            st["gc_ms"] += tm["JVM GC Time"]
            st["peak_mem_mb"] = max(st["peak_mem_mb"], tm["Peak Execution Memory"] / MB)
            st["spill_mb"] += tm["Disk Bytes Spilled"] / MB
            st["input_mb"] += tm["Input Metrics"]["Bytes Read"] / MB
            st["input_rows"] += tm["Input Metrics"]["Records Read"]
            st["output_mb"] += tm["Output Metrics"]["Bytes Written"] / MB
            st["output_rows"] += tm["Output Metrics"]["Records Written"]
            sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            st["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / MB
            st["fetch_wait_ms"] += sr["Fetch Wait Time"]
            st["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / MB
            st["shuffle_records"] += sw["Shuffle Records Written"]
            st["shuffle_write_ms"] += sw["Shuffle Write Time"] / 1e6
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages[(info["Stage ID"], info["Stage Attempt ID"])]
            desc = (stage_props.get(info["Stage ID"]) or {}).get("spark.job.description", "")
            m = DESCRIPTION.match(desc)
            if m is None:
                raise AttributionError(
                    f"Spark stage {info['Stage ID']} has no op description ({desc!r})"
                )
            st["op"], st["phase"] = m["op"], m["phase"]
            st["start_ms"] = info["Submission Time"]
            st["end_ms"] = info["Completion Time"]
            scopes = " ".join(
                f"{r.get('Name', '')} {r.get('Scope', '')}" for r in info["RDD Info"]
            )
            st["python"] = bool(PYTHON_OPERATOR.search(scopes))
            st["writes"] = bool(WRITE_OPERATOR.search(scopes))
            for acc in info.get("Accumulables", []):
                field = SQL_STAGE_METRICS.get(acc.get("Name"))
                if field is not None:
                    name, div = field
                    st[name] = st.get(name, 0.0) + float(acc["Value"]) / div
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_ids(ev["sparkPlanInfo"], driver_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev["accumUpdates"]:
                driver_updates.append((ev["executionId"], acc_id, value))

    driver: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for exec_id, acc_id, value in driver_updates:
        field = driver_ids.get(acc_id)
        op = exec_op.get(exec_id)
        if field is None or op is None:
            continue
        driver[op][field[0]] += value / field[1]
    done = [s for s in stages.values() if "op" in s]
    return {"stages": done, "jobs": jobs, "driver": driver}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def op_layers(log: dict, op: str, start_ms: float, end_ms: float, cores: int) -> dict:
    """Layer metrics of one op from its attributed stages; ``start_ms`` and
    ``end_ms`` bound the op's wall-clock span (epoch ms)."""
    stages = [s for s in log["stages"] if s["op"] == op]
    jobs = [j for j in log["jobs"].values() if j["op"] == op]
    drv = log["driver"].get(op, {})

    def total(field, which=stages):
        return sum(s.get(field, 0.0) for s in which)

    py = [s for s in stages if s["python"]]
    wr = [s for s in stages if s["writes"] or s["output_rows"]]
    ex = [s for s in stages if s["shuffle_write_mb"] or s["shuffle_records"]]
    run_ms = total("run_ms")
    wall_ms = max(end_ms - start_ms, 1e-9)
    busy = _union_ms(
        [
            (max(s["start_ms"], start_ms), min(s["end_ms"], end_ms))
            for s in stages
            if s["end_ms"] > start_ms and s["start_ms"] < end_ms
        ]
    )
    straggler = max(
        (max(s["task_ms"]) / max(statistics.median(s["task_ms"]), 1) for s in stages if len(s["task_ms"]) > 1),
        default=1.0,
    )
    return {
        "sources.input_mb": total("input_mb"),
        "sources.input_rows": total("input_rows"),
        "sources.scan_ms": total("scan_ms"),
        "sources.files_read": drv.get("files_read", 0.0),
        "queries.build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
        "exchange.stages": len(ex),
        "exchange.shuffle_write_mb": total("shuffle_write_mb"),
        "exchange.shuffle_read_mb": total("shuffle_read_mb"),
        "exchange.shuffle_records": total("shuffle_records"),
        "exchange.fetch_wait_ms": total("fetch_wait_ms"),
        "exchange.write_ms": total("shuffle_write_ms"),
        "operators.agg_ms": total("agg_ms"),
        "operators.sort_ms": total("sort_ms"),
        "operators.spill_mb": total("spill_mb"),
        "operators.peak_mem_mb": max((s["peak_mem_mb"] for s in stages), default=0.0),
        "operators.broadcast_mb": drv.get("broadcast_mb", 0.0),
        "operators.broadcast_ms": drv.get("broadcast_ms", 0.0),
        "python.stage_run_ms": total("run_ms", py),
        "python.to_worker_mb": total("py_to_mb"),
        "python.from_worker_mb": total("py_from_mb"),
        "python.share": total("run_ms", py) / run_ms if run_ms else 0.0,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": total("tasks"),
        "spark.failed_tasks": total("failed_tasks"),
        "spark.executor_run_ms": run_ms,
        "spark.executor_cpu_ms": total("cpu_ms"),
        "spark.gc_ms": total("gc_ms"),
        "spark.busy_ratio": run_ms / (wall_ms * cores),
        "spark.straggler_ratio": straggler,
        "driver.cluster_idle_ms": max(wall_ms - busy, 0.0),
        "streaming.output_mb": total("output_mb"),
        "streaming.output_rows": total("output_rows"),
        "streaming.write_stage_ms": total("run_ms", wr),
    }

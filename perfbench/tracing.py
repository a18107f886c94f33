"""Per-layer metrics of a traced run, read from outside the library.

Sources: Spark's local event log (enabled through ``PYSPARK_SUBMIT_ARGS``
before the session starts), the job group of each timed unit, each
incarnation's ``recentProgress`` and the streaming checkpoint dirs.
Only jobs whose group is a timed unit (a query or a streaming
incarnation) are counted; set-up and output checks are not.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 1024 * 1024

#: every per-layer metric a traced run reports, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.heavy.build_s": "s",
    "registry.heavy.build_jobs": "count",
    "registry.light.build_s": "s",
    "registry.light.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.idle_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.failed_tasks": "count",
    "store.files_written": "count",
    "store.mb_written": "MB",
    "store.commit_s": "s",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "stream.batches": "count",
    "stream.batch_p50_s": "s",
    "stream.add_batch_s": "s",
    "stream.plan_s": "s",
    "stream.wal_s": "s",
    "stream.source_s": "s",
    "state.rows": "count",
    "state.mem_mb": "MB",
    "state.commit_s": "s",
    "checkpoint.files": "count",
    "checkpoint.mb": "MB",
    "controlplane.sync_s": "s",
    "controlplane.update_s": "s",
    "controlplane.resume_s": "s",
    "controlplane.replayed_rows": "count",
    "controlplane.replay_batches": "count",
    "controlplane.replay_ratio": "ratio",
    "controlplane.reconfig_cpu_s": "s",
    "sink.dup_ratio": "ratio",
    "process.driver_cpu_s": "s",
    "process.jvm_cpu_s": "s",
    "process.workers_cpu_s": "s",
    "trace.query_total_s": "s",
    "trace.cpu_s": "s",
    "trace.parse_s": "s",
}

#: SQL metric (task accumulable or driver accumulator) -> per-layer sum
_ACCUMS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.sent_mb", 1 / MB),
    "data returned from Python workers": ("python.recv_mb", 1 / MB),
    "task commit time": ("store.commit_s", 1e-3),
    "job commit time": ("store.commit_s", 1e-3),
    "number of written files": ("store.files_written", 1),
    "written output": ("store.mb_written", 1 / MB),
}


def submit_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn the uncompressed event log on."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
    )


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "app")):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def event_log_layers(log_dir: str, units: dict[str, str]) -> dict[str, float]:
    """Sum the event log over the jobs of the timed units."""
    out = {k: 0.0 for k in (
        "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
        "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
        "spark.failed_tasks", *{name for name, _ in _ACCUMS.values()},
    )}
    stages: set[int] = set()
    executions: set[int] = set()
    job_group: dict[int, str] = {}
    spans: dict[str, list[float]] = {}
    accum_names: dict[int, str] = {}
    driver_updates: list[tuple[int, list]] = []
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group not in units:
                continue
            job_group[e["Job ID"]] = group
            out["spark.jobs"] += 1
            stages.update(e.get("Stage IDs", []))
            xid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if xid is not None:
                executions.add(int(xid))
            span = spans.setdefault(group, [float("inf"), 0.0])
            span[0] = min(span[0], e["Submission Time"] / 1000)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            span = spans[job_group[e["Job ID"]]]
            span[1] = max(span[1], e["Completion Time"] / 1000)
        elif kind == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in stages:
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            out["spark.tasks"] += 1
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
                out["spark.failed_tasks"] += 1
            out["spark.task_s"] += m.get("Executor Run Time", 0) / 1000
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000
            out["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            out["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in _ACCUMS:
                    name, scale = _ACCUMS[acc["Name"]]
                    out[name] += _num(acc.get("Update")) * scale
        elif "sparkPlanInfo" in e:
            _plan_metric_names(e["sparkPlanInfo"], accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append((e["executionId"], e["accumUpdates"]))
    for xid, updates in driver_updates:
        if xid not in executions:
            continue
        for acc_id, value in updates:
            name = accum_names.get(acc_id)
            if name in _ACCUMS:
                layer, scale = _ACCUMS[name]
                out[layer] += _num(value) * scale
    out["spark.exec_s"] = sum(end - start for start, end in spans.values() if end >= start)
    return out


def progress_layers(progress: list[tuple[str, dict]], n_events: int) -> dict[str, float]:
    """Micro-batch, state-store and replay metrics from recentProgress."""
    out: dict[str, float] = {}
    batches = [p for _kind, p in progress]
    dur = [p.get("durationMs", {}) for p in batches]
    out["stream.batches"] = len(batches)
    out["stream.batch_p50_s"] = (
        statistics.median(d.get("triggerExecution", 0) for d in dur) / 1000 if dur else 0.0
    )
    out["stream.add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1000
    out["stream.plan_s"] = sum(d.get("queryPlanning", 0) for d in dur) / 1000
    out["stream.wal_s"] = sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000
    out["stream.source_s"] = sum(d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / 1000
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    last = batches[-1].get("stateOperators", []) if batches else []
    out["state.rows"] = sum(op.get("numRowsTotal", 0) for op in last)
    out["state.mem_mb"] = max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / MB
    out["state.commit_s"] = sum(op.get("commitTimeMs", 0) for op in ops) / 1000
    replay = [p for kind, p in progress if kind == "resume" and p.get("numInputRows", 0) > 0]
    out["controlplane.replayed_rows"] = sum(p["numInputRows"] for p in replay)
    out["controlplane.replay_batches"] = len(replay)
    out["controlplane.replay_ratio"] = (
        out["controlplane.replayed_rows"] / n_events if n_events else 0.0
    )
    return out


def checkpoint_layers(dirs: list[str]) -> dict[str, float]:
    files, size = 0, 0
    for d in dirs:
        for root, _dirs, names in os.walk(d):
            for name in names:
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return {"checkpoint.files": files, "checkpoint.mb": size / MB}

"""Read-outs from the Spark runtime and the OS: job counts from the
status tracker, task metrics from the event log, streaming progress
from a query listener, and the peak RSS of the process tree."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.streaming import StreamingQueryListener


def group_job_ids(spark, group: str) -> list[int]:
    """Ids of the jobs the status tracker holds for one job group."""
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def read_event_log(log_dir: str) -> dict:
    """Jobs and tasks of the newest application log in ``log_dir``.

    Returns ``{"jobs": [{"id", "submit", "group", "stages"}],
    "tasks": [{"stage", "run_ms", "cpu_ns", "gc_ms", "shuffle_w",
    "shuffle_r", "bytes_out", "failed"}]}`` with times in epoch seconds."""
    logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    jobs, tasks = [], []
    if not logs:
        return {"jobs": jobs, "tasks": tasks}
    with open(logs[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({
                    "id": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev.get("Stage IDs", []),
                })
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                ow = m.get("Output Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_r": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "bytes_out": ow.get("Bytes Written", 0),
                    "failed": bool((ev.get("Task Info") or {}).get("Failed")),
                })
    return {"jobs": jobs, "tasks": tasks}


def runtime_metrics(log: dict, t0: float, t1: float, wall_s: float,
                    cores: int) -> dict[str, float]:
    """``spark.*`` metrics over the jobs submitted in [t0, t1]."""
    jobs = [j for j in log["jobs"] if t0 <= j["submit"] <= t1]
    stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
        "spark.shuffle_read_bytes": sum(t["shuffle_r"] for t in tasks),
        "spark.core_busy_ratio": run_s / max(wall_s * cores, 1e-9),
    }


def job_tasks(log: dict) -> dict[int, int]:
    """Job id -> tasks that ran for it (skipped stages run none)."""
    per_stage: dict[int, int] = {}
    for t in log["tasks"]:
        per_stage[t["stage"]] = per_stage.get(t["stage"], 0) + 1
    return {j["id"]: sum(per_stage.get(s, 0) for s in j["stages"])
            for j in log["jobs"]}


class ProgressCollector(StreamingQueryListener):
    """Keeps every streaming progress report, as a plain dict."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event):
        pass


def _tree_pids(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak RSS (VmHWM) of this process and its descendants:
    the driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

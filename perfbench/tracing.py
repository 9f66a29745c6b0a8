"""Spans, process-tree memory sampling and the Spark event-log parser.

Spans are kept in memory and written once at exit.  Each span names the
Spark job description of the actions run inside it, which is how the
event-log parser ties Spark's operator and task metrics back to spans.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str, sc=None) -> None:
        self.run_id = run_id
        self.sc = sc
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.records), "name": name, "parent": parent,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    self.records[self._stack[-1]]["name"] if self._stack else None)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for r in self.records:
            out[r["name"]] += r["end"] - r["start"] - child[r["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.records,
                       "self_s": self.self_times()}, f, indent=1)


def descendants(root_pid: int) -> list[int]:
    """Live descendants of ``root_pid``, from /proc."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children[int(fields[1])].append(int(stat.split("/")[2]))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int, page: int) -> tuple[int, int]:
    """Summed RSS of ``root_pid`` and all its descendants: (all, JVM only)."""
    total = jvm = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                is_jvm = f.read().strip() == "java"
        except OSError:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


class RssSampler:
    """Background thread tracking the peak RSS of this process tree: the
    Python driver, the JVM it launched, and the JVM's Python workers.
    ``peak_py`` is the largest sample of the tree without the JVM."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_jvm = 0
        self.peak_py = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            total, jvm = _tree_rss_bytes(pid, self._page)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, total - jvm)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- Spark event log -----------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."

#: (operator name prefix, SQL metric name) -> per-layer metric; "timing"
#: metrics are in ms
_OPERATOR_METRICS = {
    ("Scan", "scan time"): "scan.time_s",
    ("Scan", "size of files read"): "scan.bytes_read",
    # worker start is 0 ms on every pass once workers are reused, so it
    # is counted with initialization
    ("Python", "time to start Python workers"): "py.init_s",
    ("Python", "time to initialize Python workers"): "py.init_s",
    ("Python", "time to run Python workers"): "py.run_s",
    ("Python", "data sent to Python workers"): "py.to_py_bytes",
    ("Python", "data returned from Python workers"): "py.from_py_bytes",
    ("Python", "number of output rows"): "plan.sketch_rows",
}
_PYTHON_OPERATORS = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython")


def _operator_kind(node_name: str) -> str | None:
    if node_name.startswith("Scan"):
        return "Scan"
    if node_name.startswith(_PYTHON_OPERATORS):
        return "Python"
    return None


def _walk_plan(info: dict, accums: dict[int, tuple[str, str, str]]) -> None:
    kind = _operator_kind(info["nodeName"])
    if kind is not None:
        for m in info.get("metrics", []):
            accums[m["accumulatorId"]] = (kind, m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, accums)


def parse_event_log(log_dir: str, keep) -> dict[str, float]:
    """Fold one application's event log into per-layer totals.

    Only SQL executions and jobs whose description satisfies ``keep`` are
    counted.  Operator metrics come from each task's accumulator updates
    (scan, Python workers); stage and task metrics give shuffle, output,
    executor run/CPU time and the wall time of stages that read no shuffle
    (map side) and that do (reduce side)."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    accums: dict[int, tuple[str, str, str]] = {}
    exec_desc: dict[int, str] = {}
    job_keep: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    job_wall: dict[int, list[int]] = {}
    stage_wall: dict[int, float] = {}
    stage_tasks: dict[int, list[dict]] = defaultdict(list)
    driver_updates: list[dict] = []
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            exec_desc[ev["executionId"]] = ev.get("description") or ""
            _walk_plan(ev["sparkPlanInfo"], accums)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _walk_plan(ev["sparkPlanInfo"], accums)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            driver_updates.append(ev)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            desc = props.get("spark.job.description")
            if desc is None and "spark.sql.execution.id" in props:
                desc = exec_desc.get(int(props["spark.sql.execution.id"]), "")
            job_keep[ev["Job ID"]] = bool(desc) and keep(desc)
            job_wall[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
            for sid in ev["Stage IDs"]:
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job_wall[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
            stage_tasks[ev["Stage ID"]].append(ev)

    out: dict[str, float] = defaultdict(float)
    for name in set(_OPERATOR_METRICS.values()) | {
        "scan.tasks", "shuffle.bytes_written", "shuffle.records_written",
        "shuffle.write_s", "write.rows", "write.bytes",
        "exec.run_s", "exec.cpu_s", "plan.partial_stage_s",
        "plan.merge_stage_s", "jobs_wall_s",
    }:
        out[name] = 0.0

    def add_operator_metric(acc_id: int, update) -> None:
        meta = accums.get(acc_id)
        metric = meta and _OPERATOR_METRICS.get(meta[:2])
        if metric is not None:
            out[metric] += float(update) * (1e-3 if meta[2] == "timing" else 1.0)

    # metrics the driver fills in, e.g. the size of files a scan lists
    for ev in driver_updates:
        if keep(exec_desc.get(ev["executionId"], "")):
            for acc_id, update in ev["accumUpdates"]:
                add_operator_metric(acc_id, update)
    skews = []
    for sid, tasks in stage_tasks.items():
        if not job_keep.get(stage_job.get(sid, -1), False):
            continue
        reads_shuffle = False
        runs = []
        for ev in tasks:
            tm = ev["Task Metrics"]
            for acc in ev["Task Info"].get("Accumulables", []):
                if "Update" in acc:
                    add_operator_metric(acc["ID"], acc["Update"])
            sr, sw, om = (tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"],
                          tm["Output Metrics"])
            reads_shuffle |= (sr["Local Blocks Fetched"] + sr["Remote Blocks Fetched"]) > 0
            out["shuffle.bytes_written"] += sw["Shuffle Bytes Written"]
            out["shuffle.records_written"] += sw["Shuffle Records Written"]
            out["shuffle.write_s"] += sw["Shuffle Write Time"] / 1e9
            out["write.rows"] += om["Records Written"]
            out["write.bytes"] += om["Bytes Written"]
            out["exec.run_s"] += tm["Executor Run Time"] / 1e3
            out["exec.cpu_s"] += tm["Executor CPU Time"] / 1e9
            runs.append(tm["Executor Run Time"])
            if tm["Input Metrics"]["Bytes Read"] > 0:
                out["scan.tasks"] += 1
        wall = stage_wall.get(sid, 0.0)
        out["plan.merge_stage_s" if reads_shuffle else "plan.partial_stage_s"] += wall
        if not reads_shuffle and len(runs) >= 2:
            runs.sort()
            median = runs[len(runs) // 2]
            if median > 0:
                skews.append(runs[-1] / median)
    out["plan.task_skew"] = max(skews) if skews else 1.0
    # jobs can overlap (AQE runs independent stages together), so count the
    # time covered by at least one kept job
    covered_to = 0
    for start, end in sorted(w for jid, w in job_wall.items() if job_keep.get(jid)):
        if end > covered_to:
            out["jobs_wall_s"] += (end - max(start, covered_to)) / 1e3
            covered_to = end
    return dict(out)
